package graft

import graft.eval.Metrics
import graft.graph.KGraph
import graft.knn.CosineKnn
import graft.model.PopularityRecommender
import graft.prep.Preprocess
import graft.report.Reporter
import graft.split.EdgeSplits
import graft.text.{Dedup, TextOps}
import graft.walk.RandomWalks
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with DuckDB oracle SQL over the same parquet tables.
  *
  * Numeric-parity rules used throughout (so value hashes match the
  * DuckDB oracle bit-for-bit):
  *  - money sums go through decimal(18,2)/(38,x) — exact, order-free;
  *  - double aggregates of non-integral values are round()ed to absorb
  *    summation-order ulp noise;
  *  - every ranking window carries a total-order tie-break;
  *  - timestamps are compared as epoch millis (unix_millis/epoch_ms).
  */
object SparkEntry {

  // ---- shared plumbing -------------------------------------------------

  private def T(s: SparkSession, dir: String, name: String) = Tables.t(s, dir, name)

  /** Per-run scratch root for the sink/roundtrip queries (q43, q44,
    * q50, q51, q88, q91, q93, q101). Keyed by pid (overridable with
    * SPARK_GRAFT_RUN_ID) so two concurrent Verify/Bench JVMs on one
    * machine can never clobber each other's sink mid-read — the r9
    * fixed `/tmp/graft_qNN` constants did exactly that. The oracle SQL
    * for the roundtrip queries interpolates the SAME value, and both
    * sides are emitted by the same JVM (Verify dumps oracle_sql.json),
    * so the DuckDB replay always reads this run's files. The dir must
    * therefore OUTLIVE the JVM (the driver replays the oracle after
    * Verify exits) — cleanup is the startup sweep of dead-pid siblings
    * in [[graft.util.Scratch.sweepStaleRuns]], not a shutdown hook. */
  private[graft] val runScratch: String =
    s"/tmp/graft_run_${sys.env.getOrElse("SPARK_GRAFT_RUN_ID", ProcessHandle.current().pid().toString)}"

  /** 1999-01-01T00:00:00Z in epoch millis — fixed-timestamp split point. */
  private val FixedTs = 915148800000L

  /** Centroids the q52 query fn stashed from its own ivfTopK fit —
    * read by the q52 oracle builder when Verify dumps oracleSql (which
    * happens strictly after the queries run; see AnnReplaySql). */
  @volatile private var ivfCentroidStash: Array[(Int, Array[Double])] = _

  /** Deterministic user-level 80/20 temporal split of the rating edges.
    * Persisted: q09-q12 all branch from this plan and the CacheManager
    * serves them from one materialization. */
  // Shared holdout split: persisted AND eagerly materialized once per
  // (session, dir). Spark's CacheManager dedupes repeat persists of the
  // same canonical plan, but a *lazy* persist lets one downstream action
  // scan the split several times (train + test sides of an eval join)
  // before the cache populates — each scan recomputing the ratings join.
  // The memo forces a single materialization pass the first time any
  // query touches the split in a session.
  private val tsSplitMemo =
    scala.collection.concurrent.TrieMap.empty[(Int, String), DataFrame]
  private def tsSplit(s: SparkSession, dir: String): DataFrame = {
    val key = (System.identityHashCode(s), dir)
    // identity guard (hash reuse across stopped test sessions) + storage
    // guard (clearCache() drops the cache but not the memo — re-persist
    // so memo hits never degrade to recompute-per-scan)
    tsSplitMemo.get(key).filter(_.sparkSession eq s).map { df =>
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        df.count()
      }
      df
    }.getOrElse {
      val df = EdgeSplits.timestampByRatio(Tables.ratings(s, dir), 0.2, "user")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count()
      // atomic insert mirroring Tables.ratings: racer's copy wins,
      // loser unpersists; stale same-hash entries are replaced
      tsSplitMemo.putIfAbsent(key, df) match {
        case Some(prev) if prev.sparkSession eq s =>
          df.unpersist(blocking = false); prev
        case Some(_) => tsSplitMemo.put(key, df); df
        case None => df
      }
    }
  }

  private def trainRatings(s: SparkSession, dir: String): DataFrame =
    tsSplit(s, dir).filter(!col("is_test")).drop("is_test")

  private def testRatings(s: SparkSession, dir: String): DataFrame =
    tsSplit(s, dir).filter(col("is_test")).drop("is_test")

  /** M4-M6 (q41/q67-q69): one KGE model on the bounded subgraph, pinned
    * for a golden-parquet oracle: pin_order sorts the training triples
    * onto one partition so the full-batch gradient accumulates in a
    * fixed float order — bit-exact across sessions (KgeTrainer.fit).
    * Each fit is fd-gradient spec-verified; the golden records it. */
  private def kgeRecsPinned(s: SparkSession, dir: String, model: String): DataFrame = {
    val train = trainRatings(s, dir).filter(col("user_id") < 200)
    val rec = new graft.kge.KgeRecommender(Map(
      "model" -> model, "embedding_dim" -> "16", "epochs" -> "2", "seed" -> "42",
      "pin_order" -> "true"))
      .train(s, train, None)
    // q07 pattern: materialize the output once, then release() the
    // recommender's userEmb/itemEmb/train caches
    val out = rec.recommend(5).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    rec.release()
    out
  }

  // memoized like tsSplit: q10/q11/q12 (and the flagship) all consume
  // the same popularity ranking — the users×candidates window is the
  // most expensive relational stage in the chain and must run once
  private val popRecsMemo =
    scala.collection.concurrent.TrieMap.empty[(Int, String), DataFrame]
  private def popRecs(s: SparkSession, dir: String): DataFrame =
    memoDf(popRecsMemo, s, dir)(
      PopularityRecommender.recommend(trainRatings(s, dir), 5))

  /** Shared memo discipline of tsSplit/popRecs, generalized: persist +
    * eager materialization once per (session, dir), storage-level
    * re-pin after a session-wide clearCache, last-wins on race.
    * Entries whose session has stopped are evicted on every call —
    * without this, dead sessions' DataFrames are retained for the JVM
    * lifetime in long-lived multi-session processes.
    *
    * Scale posture (guide §5): a SQL-level MEMORY_AND_DISK persist is
    * stored as compressed COLUMNAR batches that spill to disk under
    * memory pressure — there is no deserialized-object tier to gate
    * away (MEMORY_AND_DISK_SER is the same thing for DataFrames), so a
    * multi-TB memo degrades to local-disk reads, not an OOM. LIFETIME
    * is the real scale risk, and it is bounded: the bench releases each
    * family the moment its last consumer has run
    * ([[releaseFamilyMemosAfter]]), and any later touch recomputes from
    * the base tables. */
  private def memoDf(memo: scala.collection.concurrent.TrieMap[(Int, String), DataFrame],
                     s: SparkSession, dir: String)(build: => DataFrame): DataFrame = {
    memo.filterInPlace((_, df) => !df.sparkSession.sparkContext.isStopped)
    val key = (System.identityHashCode(s), dir)
    memo.get(key).filter(_.sparkSession eq s).map { df =>
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        df.count()
      }
      df
    }.getOrElse {
      val df = build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count()
      memo.putIfAbsent(key, df) match {
        case Some(prev) if prev.sparkSession eq s =>
          df.unpersist(blocking = false); prev
        case Some(_) => memo.put(key, df); df
        case None => df
      }
    }
  }

  // ---- shared itemKNN-family materializations (r14) -------------------
  // Eleven queries consume overlapping slices of ONE dependency chain:
  //   rel (capped relevant set)
  //     -> cooc (support-pruned co-interaction pairs): q124 triangles,
  //        q128/q143 link prediction, q145 coreness, q153 ktruss, and
  //        q161 trussness (its minCooc=3 table == cooc.filter(>= 3))
  //     -> sims (integer Jaccard): q138 novelty/ILD, q139 MMR
  //     -> top-10 recommend: q139 (k=10) and, as the rank<=5 prefix,
  //        q123/q133/q137/q158 (top-5 == top-10 filtered: row_number
  //        under a total order is prefix-stable)
  // Before r14 the capped pair join — the family's most expensive
  // stage — ran once per query (8 independent builds measured in the
  // bench); the memoDf chain runs each stage exactly once per
  // (session, dir).
  private val relMemo =
    scala.collection.concurrent.TrieMap.empty[(Int, String), DataFrame]
  private def relCapped(s: SparkSession, dir: String): DataFrame =
    memoDf(relMemo, s, dir)(
      graft.model.ItemKnn.relevantCapped(Tables.ratings(s, dir), 4.0, 50))

  private val coocMemo =
    scala.collection.concurrent.TrieMap.empty[(Int, String), DataFrame]
  private def coocTable(s: SparkSession, dir: String): DataFrame =
    memoDf(coocMemo, s, dir)(
      graft.model.ItemKnn.cooc(relCapped(s, dir), 2))

  private val knnTop10Memo =
    scala.collection.concurrent.TrieMap.empty[(Int, String), DataFrame]
  private def knnTop10(s: SparkSession, dir: String): DataFrame =
    memoDf(knnTop10Memo, s, dir)(graft.model.ItemKnn.recommend(
      Tables.ratings(s, dir), relCapped(s, dir),
      graft.model.ItemKnn.neighbors(itemSims(s, dir), 10), 10))
  private def knnRecs(s: SparkSession, dir: String): DataFrame =
    knnTop10(s, dir).filter(col("rank") <= 5)

  // q133/q158 build the identical top-20-popularity ranking next to
  // the kNN ranking — one materialization serves both
  private val popRank20Memo =
    scala.collection.concurrent.TrieMap.empty[(Int, String), DataFrame]
  private def popRank20(s: SparkSession, dir: String): DataFrame =
    memoDf(popRank20Memo, s, dir) {
      val r = Tables.ratings(s, dir)
      val pcand = r.filter(col("rating") >= 4.0)
        .groupBy("item_id").agg(count(lit(1)).as("__cnt"))
        .orderBy(col("__cnt").desc, col("item_id")).limit(20)
      graft.util.TopK.perGroup(
        r.select("user_id").distinct()
          .crossJoin(broadcast(pcand))
          .join(r.select("user_id", "item_id"), Seq("user_id", "item_id"), "left_anti"),
        Seq("user_id"), "__cnt", Seq("item_id"), 20)
        .select("user_id", "item_id", "rank")
    }

  // q116/q122/q125/q126 (and q13 itself) assemble the identical KG
  // triple graph — ratings triples + semi-joined user/item property
  // triples; one materialization serves all five
  private val triMemo =
    scala.collection.concurrent.TrieMap.empty[(Int, String), DataFrame]
  private def kgTriples(s: SparkSession, dir: String): DataFrame =
    memoDf(triMemo, s, dir) {
      val r = Tables.ratings(s, dir)
      val userProps = T(s, dir, "customer")
        .join(r.select(col("user_id").as("c_custkey")), Seq("c_custkey"), "left_semi")
      val itemProps = T(s, dir, "part")
        .join(r.select(col("item_id").as("p_partkey")), Seq("p_partkey"), "left_semi")
      KGraph.allTriples(r, Seq(
        KGraph.propertyTriples(userProps, "c_custkey", isUser = true, "c_mktsegment", "mktsegment"),
        KGraph.propertyTriples(itemProps, "p_partkey", isUser = false, "p_brand", "brand")))
    }

  // q116 (PageRank) and q122 (PPR) iterate over the IDENTICAL
  // dictionary-encoded, degree-annotated KG edge cache — ranks depend
  // only on structure, so one encode serves both (r15; each previously
  // re-ran the triple assembly + dictionary build + edge-cache shuffle,
  // ~1.5–2 s each at sf0.1). Same lifecycle doctrine as memoDf:
  // stopped-session eviction, clearCache re-pin, last-wins on race;
  // released by the bench after q122 (its last consumer).
  private val kgEncodedMemo =
    scala.collection.concurrent.TrieMap.empty[(Int, String), graft.graph.PageRank.EncodedGraph]
  private def kgEncoded(s: SparkSession, dir: String): graft.graph.PageRank.EncodedGraph = {
    kgEncodedMemo.filterInPlace((_, g) => !g.nid.sparkSession.sparkContext.isStopped)
    val key = (System.identityHashCode(s), dir)
    kgEncodedMemo.get(key).filter(_.nid.sparkSession eq s).map { g =>
      g.repin(); g
    }.getOrElse {
      val g = graft.graph.PageRank.encode(kgTriples(s, dir), "head", "tail")
      kgEncodedMemo.putIfAbsent(key, g) match {
        case Some(prev) if prev.nid.sparkSession eq s =>
          g.release(); prev
        case Some(_) => kgEncodedMemo.put(key, g); g
        case None => g
      }
    }
  }

  // q142/q146/q152 share one 5-fold assignment; q142/q146 also share
  // the fold-1-train itemKNN chain built on it
  private val foldedMemo =
    scala.collection.concurrent.TrieMap.empty[(Int, String), DataFrame]
  private def folded5(s: SparkSession, dir: String): DataFrame =
    memoDf(foldedMemo, s, dir)(
      EdgeSplits.kFold(Tables.ratings(s, dir), 5, "user", Seq(col("item_id"))))
  private val foldKnnMemo =
    scala.collection.concurrent.TrieMap.empty[(Int, String), DataFrame]
  private def foldTrainKnnRecs(s: SparkSession, dir: String): DataFrame =
    memoDf(foldKnnMemo, s, dir)(graft.model.ItemKnn.recs(
      folded5(s, dir).filter(col("fold") =!= 1).select("user_id", "item_id", "rating"),
      minRating = 4.0, cap = 50, minCooc = 2, kNbrs = 10, kRecs = 5))

  // q138/q139 + the knnTop10 chain all consume one similarity table,
  // derived from the SHARED cooc materialization (identical by
  // construction: similaritiesFrom(cooc(rel, 2), rel))
  private val itemSimsMemo =
    scala.collection.concurrent.TrieMap.empty[(Int, String), DataFrame]
  private def itemSims(s: SparkSession, dir: String): DataFrame =
    memoDf(itemSimsMemo, s, dir)(graft.model.ItemKnn.similaritiesFrom(
      coocTable(s, dir), relCapped(s, dir)))

  // Markov family: transitions(ratings, 2, 5) is consumed by q155,
  // q157 AND q172 (backoff tier 1); transitions2(ratings, 2, 5) by
  // q171 and q172 — each previously rebuilt the full sorted-timeline
  // aggregate (r15). Released after q172, the last consumer.
  private val markovT1Memo =
    scala.collection.concurrent.TrieMap.empty[(Int, String), DataFrame]
  private def markovT1(s: SparkSession, dir: String): DataFrame =
    memoDf(markovT1Memo, s, dir)(graft.model.MarkovNextItem.transitions(
      Tables.ratings(s, dir), minCount = 2L, k = 5))
  private val markovT2Memo =
    scala.collection.concurrent.TrieMap.empty[(Int, String), DataFrame]
  private def markovT2(s: SparkSession, dir: String): DataFrame =
    memoDf(markovT2Memo, s, dir)(graft.model.MarkovNextItem.transitions2(
      Tables.ratings(s, dir), minCount = 2L, k = 5))

  // q37 and q76 consume the identical minhash-LSH pair set and its
  // connected components; build the cc view once per (session, dir)
  private val dedupCcMemo =
    scala.collection.concurrent.TrieMap.empty[(Int, String), DataFrame]
  private def dedupCc(s: SparkSession, dir: String): DataFrame =
    memoDf(dedupCcMemo, s, dir) {
      val docs = T(s, dir, "documents")
      val pairs = Dedup.minhashLsh(s, docs, 8, 3, 0.8)
      val cc = Dedup.clusters(s, docs, pairs) // materializes cc persisted
      pairs.unpersist(blocking = false)
      cc
    }

  // ---- bench memo-release registry (r15) -------------------------------

  /** Each shared family memo paired with its LAST consumer in the
    * bench's string-sorted query order (note the sort is lexicographic:
    * q13_triples runs AFTER q126). [[releaseFamilyMemosAfter]] lets the
    * bench drop a family's blocks the moment its last consumer has run,
    * so the suite's resident cache set stays bounded instead of
    * accumulating for the whole 222-query draw (guide §5: cached data
    * competes with execution memory; unpersist when done). Releasing is
    * always safe: memoDf re-persists (recompute) if a released memo is
    * ever touched again, so a wrong entry here costs time, never
    * correctness. */
  private lazy val familyMemoRelease: Seq[(String, scala.collection.concurrent.TrieMap[(Int, String), DataFrame])] = Seq(
    "q12_ndcg_at_5" -> popRecsMemo,
    "q13_triples" -> triMemo,
    "q74_tucker_recs" -> tsSplitMemo,
    "q76_dedup_corpus" -> dedupCcMemo,
    "q139_mmr_diversify" -> itemSimsMemo,
    "q146_serendipity" -> foldKnnMemo,
    "q152_baseline_mse" -> foldedMemo,
    "q158_rank_agreement" -> knnTop10Memo,
    "q158_rank_agreement" -> popRank20Memo,
    "q165_frequent_triples" -> relMemo,
    "q165_frequent_triples" -> coocMemo,
    "q172_markov2_recs" -> markovT1Memo,
    "q172_markov2_recs" -> markovT2Memo,
    "q202_er_unique_assign" -> erScoredMemo,
  )

  /** Bench hook, called OUTSIDE the timed window after `query`
    * completes: unpersist + evict every family memo whose last
    * consumer just ran (for this session only — concurrent test
    * sessions keep theirs). */
  def releaseFamilyMemosAfter(query: String, s: SparkSession): Unit = {
    familyMemoRelease.foreach { case (last, memo) =>
      if (last == query)
        memo.filterInPlace { case (_, df) =>
          if (df.sparkSession eq s) { df.unpersist(blocking = false); false }
          else true
        }
    }
    // the encoded KG graph is not a DataFrame memo; q122 is its last
    // consumer (q116 < q122 in the bench's string sort)
    if (query == "q122_personalized_pagerank")
      kgEncodedMemo.filterInPlace { case (_, g) =>
        if (g.nid.sparkSession eq s) { g.release(); false } else true
      }
  }

  // ---- shared oracle-SQL fragments ------------------------------------

  private val R = Tables.ratingsSql // "WITH ratings AS (...)"

  private val splitSql =
    """, split AS (
      |  SELECT user_id, item_id, rating, ts,
      |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, item_id, user_id) AS rn,
      |         COUNT(*) OVER (PARTITION BY user_id) AS n
      |  FROM ratings
      |), train AS (
      |  SELECT user_id, item_id, rating, ts FROM split WHERE rn <= n - CEIL(n * 0.2)
      |), test AS (
      |  SELECT user_id, item_id, rating, ts FROM split WHERE rn > n - CEIL(n * 0.2)
      |)""".stripMargin

  private val popSql =
    """, pop AS (SELECT item_id, COUNT(*) AS cnt FROM train GROUP BY 1)
      |, maxr AS (SELECT MAX(c) AS m FROM (SELECT COUNT(*) AS c FROM train GROUP BY user_id))
      |, cand AS (SELECT item_id, cnt FROM (
      |    SELECT item_id, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, item_id) AS pr FROM pop)
      |  WHERE pr <= (SELECT m + 5 FROM maxr))
      |, users AS (SELECT DISTINCT user_id FROM train)
      |, recs AS (SELECT user_id, item_id, rank FROM (
      |    SELECT u.user_id, c.item_id,
      |           ROW_NUMBER() OVER (PARTITION BY u.user_id ORDER BY c.cnt DESC, c.item_id) AS rank
      |    FROM users u CROSS JOIN cand c
      |    WHERE NOT EXISTS (SELECT 1 FROM train t
      |                      WHERE t.user_id = u.user_id AND t.item_id = c.item_id))
      |  WHERE rank <= 5)""".stripMargin

  private val relSql =
    """, rel AS (SELECT user_id, item_id, rating FROM test WHERE rating >= 4.0)
      |, nrel AS (SELECT user_id, COUNT(*) AS nrel FROM rel GROUP BY 1)""".stripMargin

  // per-user metric CTEs, UNROUNDED — shared verbatim by the per-metric
  // oracles (q11/q12, which round per user at output) and the experiment
  // replay (q51, which rounds once after the user mean, as the report
  // does); a single definition keeps the composed oracle from drifting
  private val apCtesSql =
    """, hits AS (
      |    SELECT r.user_id, r.rank, n.nrel,
      |           CASE WHEN x.item_id IS NOT NULL THEN 1 ELSE 0 END AS hit
      |    FROM recs r JOIN nrel n ON r.user_id = n.user_id
      |    LEFT JOIN rel x ON x.user_id = r.user_id AND x.item_id = r.item_id)
      |, cum AS (SELECT user_id, rank, nrel, hit,
      |           SUM(hit) OVER (PARTITION BY user_id ORDER BY rank) AS cum_hits FROM hits)
      |, ap AS (SELECT user_id,
      |    SUM(hit * cum_hits / CAST(rank AS DOUBLE)) / LEAST(nrel, 5) AS ap
      |  FROM cum GROUP BY user_id, nrel)""".stripMargin

  private val ndcgCtesSql =
    """, idcg AS (SELECT user_id, SUM(rating / LOG2(pos + 1.0)) AS idcg FROM (
      |    SELECT user_id, rating,
      |           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rating DESC, item_id) AS pos
      |    FROM rel) WHERE pos <= 5 GROUP BY 1)
      |, dcg AS (SELECT r.user_id, i.idcg,
      |           SUM(COALESCE(x.rating, 0.0) / LOG2(r.rank + 1.0)) AS dcg
      |    FROM recs r JOIN idcg i ON r.user_id = i.user_id
      |    LEFT JOIN rel x ON x.user_id = r.user_id AND x.item_id = r.item_id
      |    GROUP BY 1, 2)
      |, nd AS (SELECT user_id,
      |    CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END AS ndcg FROM dcg)""".stripMargin

  // ---- flagship -------------------------------------------------------

  /** Flagship: end-to-end recommender spine on sf0.001 — derive the
    * rating graph, temporal split, popularity top-5, MAP@5 per user. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Metrics.apPerUser(popRecs(spark, dir), testRatings(spark, dir), 5, 4.0)
  }

  // ---- the operator inventory -----------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // A-family: aggregation over scan with pushed filter (S, P, A5-A7)
    "q01_pricing_summary" -> ((s, dir) => {
      // All money/quantity sums as exact BIGINT scaled integers: quantities
      // and prices are exact in centi-units (2 dp) and the discounted price
      // in ten-thousandths (2 dp × 2 dp), so every sum is a pure int64
      // computation with identical semantics in Spark and DuckDB — no
      // decimal128 anywhere on the hashed surface. (r1-r5 carried
      // DECIMAL(38,x) sums whose VALUES matched the oracle bit-for-bit yet
      // hash-red every round; decimal128 is the only type no green query
      // emits, so it is off the hashed surface for good.)
      val qtyC   = (col("l_quantity").cast("decimal(18,2)") * 100).cast("bigint")
      val priceC = (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint")
      val discTt = (col("l_extendedprice").cast("decimal(18,2)") *
        (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")) *
        10000).cast("bigint")
      T(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(qtyC).as("sum_qty_centi"),
          sum(priceC).as("sum_base_price_centi"),
          sum(discTt).as("sum_disc_price_tt"),
          count(lit(1)).as("n_rows"))
        // avg as exact scaled-integer microunits: (centi_sum * 10000) div n
        // with identical truncation in Spark (`div`) and DuckDB (`//`)
        .withColumn("avg_qty_micro", expr("(sum_qty_centi * 10000) div n_rows"))
        // explicit final projection: the harness row-hash is column-order
        // sensitive, so mirror the oracle's column order
        .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty_centi"),
          col("sum_base_price_centi"), col("sum_disc_price_tt"),
          col("avg_qty_micro"), col("n_rows"))
    }),

    // P1-P4: projection, rename, filter
    "q02_projection_filter" -> ((s, dir) =>
      T(s, dir, "part")
        .filter(col("p_size") >= 10 && col("p_retailprice").isNotNull)
        .select(col("p_partkey"), upper(col("p_name")).as("name_u"), col("p_size"))),

    // J1/J2: left equi-join against a broadcastable dim
    "q03_left_join_enrich" -> ((s, dir) => {
      val o = T(s, dir, "orders")
      val c = T(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "left")
        // round-as-double rather than cast-to-decimal: Spark's double→decimal
        // cast rounds HALF_UP while DuckDB rounds half-to-even, so .xx5 ties
        // diverge in the last cent; round(x,2) agrees bit-for-bit.
        .select(o("o_orderkey"), c("c_name"), c("c_mktsegment"),
          round(o("o_totalprice"), 2).as("total_dec"))
    }),

    // J4/P5: edge-endpoint validation via two left-semi joins
    "q04_semi_join_validation" -> ((s, dir) => {
      val valids = T(s, dir, "customer").filter(col("c_acctbal") > 0)
        .select(col("c_custkey").as("user_id"))
      val validi = T(s, dir, "part").filter(col("p_size") >= 5)
        .select(col("p_partkey").as("item_id"))
      Tables.ratings(s, dir)
        .join(valids, Seq("user_id"), "left_semi")
        .join(validi, Seq("item_id"), "left_semi")
        .select("user_id", "item_id", "rating", "ts")
    }),

    // J5/O4: anti-join (set difference)
    "q05_anti_join_unrated" -> ((s, dir) =>
      T(s, dir, "part").select(col("p_partkey").as("item_id"))
        .join(Tables.ratings(s, dir).select("item_id"), Seq("item_id"), "left_anti")),

    // P6/F17: binarize
    "q06_binarize" -> ((s, dir) =>
      Preprocess.binarize(Tables.ratings(s, dir), 3.0)
        .select(col("user_id"), col("item_id"), col("rating").as("rating_bin"))),

    // A2/M7: reference k-core loop (user pass, item pass, user pass).
    // filterKCore is lazy (caller-owned materialization) and never
    // persists the final round itself, so THIS persist registers a fresh
    // cache entry (not a duplicate of a loop-internal one) and survives
    // kc.release(). Each pass replays the prior pass's anti-join from
    // the cached ratings base — one cached scan + broadcast anti-joins
    // per pass, no per-round columnar cache builds.
    "q07_kcore" -> ((s, dir) => {
      val r0 = Tables.ratings(s, dir)
      val kc = new graft.prep.KCoreCaches
      val r3 = Preprocess.filterKCore(
        Preprocess.filterKCore(
          Preprocess.filterKCore(r0, 25, "user", 1, kc), 20, "item", 1, kc), 25, "user", 1, kc)
      val out = r3.select("user_id", "item_id", "rating", "ts")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      kc.release()
      out
    }),

    // W5/W6: k-fold assignment (ntile == sklearn KFold block sizes)
    "q08_kfold_user" -> ((s, dir) =>
      EdgeSplits.kFold(Tables.ratings(s, dir), 5, "user", Seq(col("item_id")))
        .select("user_id", "item_id", "fold")),

    // W3: per-user temporal ratio split assignment
    "q09_split_timestamp_user" -> ((s, dir) =>
      tsSplit(s, dir).select("user_id", "item_id", "is_test")),

    // M6-lite/W7/J5/A10: popularity recommender spine
    "q10_popularity_recs" -> ((s, dir) => popRecs(s, dir)),

    // A8/J8/P8/W8: per-user average precision @ 5
    "q11_map_at_5" -> ((s, dir) =>
      Metrics.apPerUser(popRecs(s, dir), testRatings(s, dir), 5, 4.0)
        .select(col("user_id"), round(col("ap"), 6).as("ap"))),

    // A9: per-user nDCG @ 5
    "q12_ndcg_at_5" -> ((s, dir) =>
      Metrics.ndcgPerUser(popRecs(s, dir), testRatings(s, dir), 5, 4.0)
        .select(col("user_id"), round(col("ndcg"), 6).as("ndcg"))),

    // M5/F8/F9/O3: triple export with canonical node labels (the
    // shared kgTriples materialization — q116/q122/q125/q126 run
    // their kernels over the same graph)
    "q13_triples" -> ((s, dir) => kgTriples(s, dir)),

    // A1/O1/A4/F7: per-user rating-desc group-concat
    "q14_group_collect" -> ((s, dir) =>
      Tables.ratings(s, dir)
        .groupBy("user_id")
        .agg(expr(
          "array_join(transform(array_sort(collect_list(struct(-rating AS s1, item_id AS s2))), x -> cast(x.s2 as string)), '::')")
          .as("items"))),

    // exact dedup on documents (driver mandate: dedup family)
    "q15_dedup_exact" -> ((s, dir) =>
      T(s, dir, "documents")
        .groupBy("text")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"), md5(col("text")).as("fp"))),

    // J6/F12: exact top-3 cosine neighbors for the first 50 vectors
    "q21_cosine_topk" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
        .select(col("vec_id").as("id"),
          expr("transform(embedding, x -> cast(x as double))").as("vec"))
      CosineKnn.topK(e.filter(col("id") < 50), e, 3, excludeSelf = true)
        .select(col("query_id"), col("item_id").as("neighbor_id"), col("rank"),
          round(col("score"), 6).as("cos_r"))
    }),

    // approximate similarity search: LSH-bucketed ANN over embeddings
    // (golden-parquet oracle: deterministic under seed 42, but MLlib's
    // random hyperplanes aren't SQL-replayable; exactness is
    // cross-checked against CosineKnn.topK in tests)
    "q22_ann_lsh" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
        .select(col("vec_id").as("id"),
          expr("transform(embedding, x -> cast(x as double))").as("vec"))
      CosineKnn.approxTopK(e.filter(col("id") < 50), e, 5, excludeSelf = true)
        .select("query_id", "item_id", "rank")
    }),

    // streaming-equivalent tumbling window aggregation over events
    "q23_events_hourly" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
        .select(unix_millis(col("w.start").cast("timestamp")).as("ws"),
          col("event_type"), col("n"), col("sum_value"))),

    // W4/P7: fixed-timestamp split
    "q24_fixed_ts_split" -> ((s, dir) =>
      EdgeSplits.fixedTimestamp(Tables.ratings(s, dir), FixedTs)
        .groupBy("is_test").agg(count(lit(1)).as("n"), round(avg("rating"), 6).as("avg_rating"))),

    // MinHash + banded LSH near-dup candidates with exact Jaccard.
    // threshold 0.2 sits BELOW the default (b=8, r=2) S-curve knee of
    // ~0.35, so this call uses r=1 with 16 bands (knee 0.0625, ~97%
    // recall at J=0.2) — the honest parameterization for its contract.
    "q16_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLsh(s, T(s, dir, "documents"), 16, 3, 0.2, rowsPerBand = 1)),

    // WEIGHTED (bag) MinHash-LSH: capped token-count Jaccard via the
    // replication reduction — repetition-sensitive near-dup that set
    // Jaccard (q16) is blind to; same affine family, banding, and
    // exact count-join verification
    "q210_weighted_minhash" -> ((s, dir) =>
      Dedup.weightedMinhashLsh(s, T(s, dir, "documents"), nBands = 16,
        threshold = 0.2, rowsPerBand = 1, cap = 8)),

    // 64-bit SimHash fingerprints
    "q17_simhash" -> ((s, dir) =>
      Dedup.simhash(T(s, dir, "documents").filter(col("doc_id") < 50))),

    // language-ID + quality scoring
    "q18_lang_quality" -> ((s, dir) =>
      T(s, dir, "documents").select(col("doc_id"),
        TextOps.langId(col("text")).as("lang_guess"),
        TextOps.qualityScore(col("text")).as("quality"))),

    // token counting (whitespace + BPE-ish regex)
    "q19_token_stats" -> ((s, dir) =>
      TextOps.tokenStats(T(s, dir, "documents"), "text")),

    // document fingerprinting
    "q20_fingerprint" -> ((s, dir) =>
      T(s, dir, "documents").select(col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp"))),

    // J9/§1.3: deterministic node relabeling
    "q25_relabel" -> ((s, dir) => {
      val r = Tables.ratings(s, dir)
      KGraph.relabel(
        r.select(KGraph.userLabel(col("user_id")).as("label"))
          .union(r.select(KGraph.itemLabel(col("item_id")).as("label"))))
    }),

    // A3/A10/A11: distinct + degree + cardinality stats
    "q26_graph_stats" -> ((s, dir) => {
      val r = Tables.ratings(s, dir)
      val base = r.agg(
        countDistinct("user_id").as("n_users"),
        countDistinct("item_id").as("n_items"),
        count(lit(1)).as("n_edges"))
      val udeg = r.groupBy("user_id").count().agg(max("count").as("max_user_deg"))
      val ideg = r.groupBy("item_id").count().agg(max("count").as("max_item_deg"))
      base.crossJoin(udeg).crossJoin(ideg)
    }),

    // A7/M9: fold pivot report with mean and population stddev
    "q27_report_pivot" -> ((s, dir) => {
      val folds = EdgeSplits.kFold(Tables.ratings(s, dir), 5, "global",
        Seq(EdgeSplits.portableHash(42), col("item_id"), col("user_id")))
      val metrics = folds.groupBy("fold").agg(avg("rating").as("value"))
        .withColumn("model", lit("ratings_avg"))
      Reporter.foldPivot(metrics, 5, "avg_rating")
    }),

    // F1-F5: scalar string functions (year extract, title normalize,
    // punctuation strip, ascii fold, SPARQL pattern build)
    "q28_scalar_functions" -> ((s, dir) =>
      T(s, dir, "part")
        .withColumn("title", concat(col("p_name"), lit(" ("),
          (lit(1900) + col("p_partkey") % 100).cast("string"), lit(")")))
        .withColumn("t2", when(col("p_partkey") % 3 === 0,
          concat(col("p_name"), lit(", The"))).otherwise(col("p_name")))
        .select(
          col("p_partkey"),
          regexp_extract(col("title"), "\\((\\d{4})\\)", 1).cast("int").as("year"),
          when(col("t2").endsWith(", The"),
            concat(lit("The "), expr("substr(t2, 1, length(t2) - 5)")))
            .otherwise(col("t2")).as("norm_name"),
          TextOps.stripPunctuation(col("p_name")).as("no_punct"),
          TextOps.asciiFold(col("p_name")).as("ascii_only"),
          TextOps.labelPattern(col("p_name")).as("pattern"))),

    // O1/O2/O6: global sort + limit with total-order tie-break
    "q29_sort_limit" -> ((s, dir) =>
      T(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice").cast("decimal(18,2)").as("total"))),

    // F16/A5: JSON decode + null accounting over events.props
    "q30_json_props" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"), count(when(col("k").isNull, 1)).as("n_null"),
          round(avg("value"), 4).as("avg_value"))),

    // W1/W2: seeded-random ratio split, oracle-portable md5 ordering
    "q31_random_split_user" -> ((s, dir) =>
      EdgeSplits.byRatio(Tables.ratings(s, dir), 0.25, "user",
        Seq(EdgeSplits.portableHash(42), col("item_id")))
        .select("user_id", "item_id", "is_test")),

    // streaming-equivalent sliding window (2h window, 1h slide)
    "q32_events_sliding" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
        .select(unix_millis(col("w.start").cast("timestamp")).as("ws"),
          col("event_type"), col("n"), col("sum_value"))),

    // exact n-gram Jaccard near-dup (brute-force baseline)
    "q33_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccard(T(s, dir, "documents").filter(col("doc_id") < 100), 2, 0.3)),

    // sorted-neighborhood dedup (Hernández–Stolfo): normalized-prefix
    // sort + window-10 structural blocking, exact bigram-Jaccard
    // verification in integer permille — candidate volume exactly
    // ≤ 9·N independent of key skew
    "q197_sorted_neighborhood" -> ((s, dir) =>
      Dedup.sortedNeighborhood(T(s, dir, "documents"), w = 10, shingleK = 2,
        tPerMille = 100L)),

    // embedding-cosine near-dup pairs
    "q34_embedding_neardup" -> ((s, dir) =>
      Dedup.embeddingNearDup(
        T(s, dir, "embeddings").select(col("vec_id").as("id"),
          expr("transform(embedding, x -> cast(x as double))").as("vec")), 0.45)),

    // J3: surrogate-key dimension build + join-back (douban-movie.py:61-70)
    "q39_surrogate_join" -> ((s, dir) => {
      val facts = T(s, dir, "part").select(col("p_brand"), col("p_partkey"))
      val (dim, joined) = graft.etl.Converters.surrogateKeyJoin(facts, "p_brand", "brand_id")
      joined.select(col("p_partkey"), col("p_brand"), col("brand_id"))
    }),

    // batch gap-sessionization (window algebra form)
    "q35_sessionize" -> ((s, dir) =>
      graft.stream.EventStreams.sessionizeBatch(Tables.events(s, dir), 30 * 60000L)),

    // per-window top-k (batch form of the streaming top-k refresh)
    "q36_topk_per_window" -> ((s, dir) =>
      graft.stream.EventStreams.topKPerWindow(Tables.events(s, dir), "6 hours", 3)),

    // dedup clustering: connected components (GraphX) over LSH pairs
    // (memoized — q76 consumes the same cc view)
    "q37_dedup_clusters" -> ((s, dir) => dedupCc(s, dir)),

    // Mandate: the end-to-end dedup pass a corpus user actually runs —
    // q37's clusters reduced to the surviving canonical documents
    // (cc stays persisted: the memo owns its lifetime, not this query)
    "q76_dedup_corpus" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val out = Dedup.canonical(docs, dedupCc(s, dir))
        .select(col("doc_id"), md5(col("text")).as("fp"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      out
    }),

    // multimodal plumbing: binary content -> per-partition stub decode
    "q38_multimodal_features" -> ((s, dir) => {
      val media = graft.multimodal.MultimodalOps.asMedia(T(s, dir, "documents"))
      graft.multimodal.MultimodalOps.extractFeatures(media, dim = 4).toDF()
        .select(col("id"), col("n_bytes"),
          round(expr("cast(features[0] as double)"), 6).as("f0"),
          round(expr("cast(features[3] as double)"), 6).as("f3"))
    }),

    // M1-M3/M6: DeepWalk on a bounded subgraph. Fully pinned for the
    // golden-parquet oracle: local SGNS with threads=1 (bit-exact for a
    // fixed seed — SkipGram.scala:38-40) over a (start, walk_idx)-sorted
    // corpus (pin_order), so the output is partitioning- and
    // session-independent. No SQL engine can replay the fit itself; the
    // golden records spec-verified output (SkipGramSpec invariants).
    "q40_deepwalk_recs" -> ((s, dir) => {
      val train = trainRatings(s, dir).filter(col("user_id") < 200)
      val rec = new graft.walk.DeepWalkRecommender(Map(
        "n_walks" -> "3", "walk_len" -> "6", "embedding_size" -> "16",
        "epochs" -> "1", "seed" -> "42", "w2v_impl" -> "local",
        "w2v_threads" -> "1", "pin_order" -> "true"))
        .train(s, train, None)
      // q07 pattern: materialize the output once, then release() the
      // recommender's userEmb/itemEmb/train caches — per-run cache
      // accumulation is what r3's hygiene pass was eliminating
      val out = rec.recommend(5).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      rec.release()
      out
    }),

    // M4-M6: TransE KGE on a bounded subgraph. Pinned for the golden-
    // parquet oracle: pin_order sorts the training triples onto one
    // partition so the full-batch gradient accumulates in a fixed float
    // order — bit-exact across sessions (KgeTrainer.fit). The fit
    // itself is fd-gradient spec-verified; the golden records it.
    "q41_transe_recs" -> ((s, dir) => kgeRecsPinned(s, dir, "transE")),

    // M4: the three headline non-translational scoring families of the
    // reference's 9-model zoo (model2class.py:1-42) under the same
    // golden-parquet scheme as q41 — pin_order full-batch gradient on
    // the bounded subgraph, so each model's (user_id, item_id, rank)
    // output is session-independent. distMult: bilinear-diagonal
    // (distMult/model.py), rotatE: complex rotation + modulus distance
    // (rotatE/model.py:108-109), complEx: Hermitian trilinear product
    // (complEx/model.py:106-107). Gradients fd-spec-verified in
    // WalkAndModelSpec; the goldens record that verified output.
    "q67_distmult_recs" -> ((s, dir) => kgeRecsPinned(s, dir, "distMult")),
    "q68_rotate_recs" -> ((s, dir) => kgeRecsPinned(s, dir, "rotatE")),
    "q69_complex_recs" -> ((s, dir) => kgeRecsPinned(s, dir, "complEx")),

    // M4: the remaining five scoring families — with these, all 9
    // reference models (model2class.py:1-42) are hash-checked
    // end-to-end. transH: hyperplane projection (transH/model.py),
    // transR: per-relation d×d projection, transD: dynamic projection
    // vectors, rescal: bilinear d×d relation matrix, tuckER: shared d³
    // core tensor. Same pinned-fit golden scheme as q41/q67-q69.
    "q70_transh_recs" -> ((s, dir) => kgeRecsPinned(s, dir, "transH")),
    "q71_transr_recs" -> ((s, dir) => kgeRecsPinned(s, dir, "transR")),
    "q72_transd_recs" -> ((s, dir) => kgeRecsPinned(s, dir, "transD")),
    "q73_rescal_recs" -> ((s, dir) => kgeRecsPinned(s, dir, "rescal")),
    "q74_tucker_recs" -> ((s, dir) => kgeRecsPinned(s, dir, "tuckER")),

    // Mandate: PII scrub — the documents corpus is PII-free by
    // construction, so the query injects deterministic synthetic PII
    // (built from doc_id, identically in the oracle) and the scrubber
    // must find and mask exactly those spans. Pure codegen'd per-row
    // expressions: no shuffle, no UDF.
    "q75_pii_scrub" -> ((s, dir) => {
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
    }),

    // S1/S6/F7: typed-header CSV sink + source roundtrip — the oracle
    // reads the file this query WRITES, so write and read are both under
    // the hash check (previously ScalaTest-only)
    "q43_typed_csv_roundtrip" -> ((s, dir) => {
      val out = s"$runScratch/q43_roundtrip"
      graft.schema.TypedCsv.write(
        T(s, dir, "nation").select(
          col("n_nationkey").cast("double").as("nation_key"),
          col("n_name").as("name"),
          array(col("n_name"), col("n_regionkey").cast("string")).as("words")), out)
      graft.schema.TypedCsv.read(s, out)
        .select(col("nation_key"), col("name"),
          expr("array_join(words, '|')").as("words_j"))
    }),

    // S2: multi-char "::" headerless dialect (the ml-1m separator),
    // written then scanned through the converter reader
    "q44_delimited_scan" -> ((s, dir) => {
      val out = s"$runScratch/q44_mcsep"
      T(s, dir, "region")
        .select(concat_ws("::", col("r_regionkey"), col("r_name")).as("line"))
        .coalesce(1).write.mode("overwrite").text(out)
      graft.etl.Converters.readDelimited(s, out, "::", "UTF-8",
        Seq("region_key", "region_name"))
    }),

    // M1: the uniform-walk half of q40's DeepWalk pipeline, pinned
    // exactly — same relabel, adjacency, and seeded-xxhash64 chain the
    // recommender runs internally; only the Word2Vec embeddings stay
    // rows-only (legitimately seed-sensitive). Verified against
    // goldens/q45_deepwalk_walks.parquet (walker.py:12-55).
    "q45_deepwalk_walks" -> ((s, dir) => {
      val train = trainRatings(s, dir).filter(col("user_id") < 200)
      val ratingEdges = train.select(
        KGraph.userLabel(col("user_id")).as("src_label"),
        KGraph.itemLabel(col("item_id")).as("dst_label"))
      val nodes = KGraph.relabel(
        ratingEdges.select(col("src_label").as("label"))
          .union(ratingEdges.select(col("dst_label").as("label"))))
      val intEdges = ratingEdges
        .join(nodes.withColumnRenamed("label", "src_label"), Seq("src_label"))
        .withColumnRenamed("node_id", "src")
        .join(nodes.withColumnRenamed("label", "dst_label"), Seq("dst_label"))
        .withColumnRenamed("node_id", "dst")
        .select("src", "dst")
      val adj = RandomWalks.adjacency(intEdges)
      val walks = RandomWalks.randomWalks(s, adj,
        nodes.select(col("node_id").as("node")), 3, 6, 42)
      walks.select(col("start"), col("walk_idx"),
        concat_ws(",", expr("transform(path, x -> cast(x as string))")).as("path_s"))
    }),

    // A4: enrichment GROUP_CONCAT(DISTINCT ...; SEPARATOR="::") replay
    // over a triple table (movielens.py:57-77) — multi-valued
    // properties, distinct + sorted, "::"-joined
    "q46_group_concat_props" -> ((s, dir) => {
      val triples = T(s, dir, "part").select(col("p_brand").as("uri"),
        explode(map(
          lit("type"), col("p_type"),
          lit("size"), col("p_size").cast("string"))).as(Seq("property", "value")))
      graft.etl.SparqlSource.groupConcatProperties(triples, Seq("type", "size"))
    }),

    // P9: keep-True attribute-map filter — the exact expression pipeline
    // the yelp dialect applies to its attributes struct (yelp.py:84-88),
    // replayed over a map built from part flags; sorted keys for a
    // deterministic hash
    "q47_attr_map_filter" -> ((s, dir) =>
      T(s, dir, "part").select(col("p_partkey"),
        expr("""map('big',     CASE WHEN p_size >= 25 THEN 'True' ELSE 'False' END,
                |    'pricey',  CASE WHEN p_retailprice >= 1500 THEN 'True' ELSE 'False' END,
                |    'branded', 'True')""".stripMargin).as("attributes"))
        .select(col("p_partkey"),
          concat_ws(",", expr(
            "array_sort(map_keys(map_filter(attributes, (k, v) -> v = 'True')))")).as("kept"))),

    // F13/F14: complex->real embedding slice (first half of the
    // interleaved layout, kge/KgeRecommender.scala) + zero-vector fill
    // for entities that never trained — the id space is chosen so every
    // sf exercises both the matched and the zero-filled branch
    "q48_complex_real_zero_fill" -> ((s, dir) => {
      val dim = 32
      val emb = T(s, dir, "embeddings").select(col("vec_id"),
        expr(s"transform(slice(embedding, 1, $dim), x -> cast(x as double))").as("vec"))
      val ids = T(s, dir, "part").select((col("p_partkey") % 2500).as("vec_id")).distinct()
      ids.join(emb, Seq("vec_id"), "left")
        .withColumn("vec", coalesce(col("vec"),
          expr(s"transform(sequence(1, $dim), x -> cast(0.0 as double))")))
        .select(col("vec_id"),
          round(element_at(col("vec"), 1), 6).as("f0"),
          round(element_at(col("vec"), dim), 6).as("f31"),
          size(col("vec")).as("n_dims"))
    }),

    // M2: node2vec biased walks — deterministic (seeded xxhash64
    // transitions), replayed independently by the DuckDB oracle
    // (graft.oracle.XxhWalkSql.q42Sql). Full path content is under the
    // hash check — the golden era hashed only path_len, which is
    // constantly 5 on this connected graph and never saw a transition.
    "q42_node2vec_walks" -> ((s, dir) => {
      val edges = trainRatings(s, dir).filter(col("user_id") < 100)
        .select(col("user_id").as("src"), (col("item_id") + lit(1000000)).as("dst"))
      val adj = RandomWalks.adjacency(edges)
      val walks = RandomWalks.biasedWalks(s, adj, adj.select(col("node")), 2, 5, 0.5, 2.0, 42)
      walks.select(col("start"), col("walk_idx"),
        concat_ws(",", expr("transform(path, x -> cast(x as string))")).as("path_s"))
    }),

    // J7 end-to-end: the reference's process.extractOne replay — explode
    // a candidate catalog per item, score with exact-thefuzz WRatio,
    // keep the top-1 with URI tie-break (movielens.py:118-131). Expected
    // names carry a movielens-style year suffix so the token-sort /
    // partial-ratio paths genuinely fire. Bounded: ≤ 201 items × 201
    // candidates at every sf. Golden-parquet oracle (WRatio is not
    // SQL-expressible; the scorer itself is pinned against thefuzz's
    // published values in TextAndEtlSpec).
    "q49_fuzzy_extract_one" -> ((s, dir) => {
      val p = T(s, dir, "part")
      val items = p.filter(col("p_partkey") % 7 === 0 && col("p_partkey") <= 1400)
        .select(col("p_partkey").as("item_id"),
          concat(col("p_name"), lit(" (1994)")).as("expected"))
      val catalog = p.filter(col("p_partkey") % 3 === 0 && col("p_partkey") <= 600)
        .select(concat(lit("http://ex.org/part/"), col("p_partkey")).as("uri"),
          col("p_name").as("candidate_label"))
      graft.etl.SparqlSource.disambiguate(items.crossJoin(broadcast(catalog)))
    }),

    // S4/S5/S6/J7/F6 integration path under the hash check: item.csv ->
    // map_URIs (fixture SPARQL JSON, two candidates, WRatio top-1) ->
    // enrich_data (fixture CSV first-row, "::"-split lists) -> typed-CSV
    // sinks read back (data_integration.py:34-45, dataset.py:225-262).
    // Fixture responses are pure functions of the query text, so the
    // oracle reconstructs every output column from `part` directly.
    "q50_data_integration" -> ((s, dir) => {
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
    }),

    // S7 + the full CLI loop under the hash check: a YAML-configured
    // experiment (experiment.py:38-106) — typed-CSV load, dedupe,
    // timestamp split, popularity train/recommend, MAP@5 + nDCG@5, fold
    // pivot — every stage SQL-replayable because each piece is already
    // oracled on its own (q09/q10/q11/q12/q27). Execution-time columns
    // are dropped (wall time is not deterministic). Bounded to ~300
    // users at every sf.
    "q51_experiment_yaml" -> ((s, dir) => {
      val tmp = s"$runScratch/q51_exp"
      graft.schema.TypedCsv.write(
        Tables.ratings(s, dir).filter(col("user_id") < 300).select(
          col("user_id").cast("string").as("user_id"),
          col("item_id").cast("string").as("item_id"),
          col("rating"), col("ts").cast("double").as("timestamp")),
        s"$tmp/rating.csv")
      val cfg =
        s"""experiment:
           |  dataset: {ratings: $tmp/rating.csv}
           |  split:
           |    seed: 42
           |    test: {method: timestamp_by_ratio, p: 0.2, level: user}
           |  models:
           |    - {name: popularity}
           |  evaluation: {k: 5, relevance_threshold: 4, metrics: [MAP, nDCG]}
           |""".stripMargin
      java.nio.file.Files.writeString(java.nio.file.Path.of(s"$tmp/exp.yml"), cfg)
      graft.cli.Experiment.run(s, s"$tmp/exp.yml")
        .select(col("model"),
          col("fold-1_MAP@5"), col("MAP@5_mean"), col("MAP@5_std"),
          col("fold-1_nDCG@5"), col("nDCG@5_mean"), col("nDCG@5_std"))
    }),

    // approximate similarity search, IVF variant: k-means inverted lists,
    // nProbe-list candidate scan, exact re-rank (golden-parquet oracle
    // like q22: k-means|| init isn't SQL-replayable; recall and the
    // nProbe=nLists==exact degeneracy are spec-pinned)
    "q52_ann_ivf" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
        .select(col("vec_id").as("id"),
          expr("transform(embedding, x -> cast(x as double))").as("vec"))
      val out = CosineKnn.ivfTopK(e.filter(col("id") < 50), e, 5, nProbe = 16,
        excludeSelf = true)
      // the fit ran eagerly inside ivfTopK — stash its centroids for the
      // oracle builder (Verify dumps oracleSql AFTER the queries run)
      ivfCentroidStash = CosineKnn.lastIvfCentroidsTl.get()
      out.select("query_id", "item_id", "rank")
    }),

    // IVF in its exact-degenerate configuration (nProbe = nLists): every
    // list is probed, so the quantize -> probe -> re-rank plumbing must
    // reproduce the exhaustive top-k — which IS SQL-replayable, putting
    // the IVF path itself under the hash check. Score parity: both sides
    // normalize then dot with left-to-right accumulation (unlike q21's
    // dot/(|q||i|) form), bit-identical doubles before the round.
    "q53_ann_ivf_exact" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
        .select(col("vec_id").as("id"),
          expr("transform(embedding, x -> cast(x as double))").as("vec"))
      CosineKnn.ivfTopK(e.filter(col("id") < 30), e, 4, nLists = 16, nProbe = 16,
          excludeSelf = true)
        .select(col("query_id"), col("item_id"), col("rank"),
          round(col("score"), 6).as("cos_r"))
    }),

    // SimHash near-dup pairing: banded Hamming join (pigeonhole: a pair
    // within distance 3 agrees exactly on one of 4 16-bit bands) + exact
    // distance re-check on candidates only. Deterministic md5 bit
    // algebra — the one dedup *join* fully under the hash check (the
    // minhash/embedding LSH joins are seeded)
    "q54_simhash_neardup" -> ((s, dir) =>
      Dedup.simhashNearDup(T(s, dir, "documents"), maxHamming = 3)),

    // unigram LM perplexity scoring: corpus-MLE vocab, per-doc mean
    // token log-prob (the CCNet/Gopher-style quality filter, unigram
    // baseline). One token-keyed shuffle + one doc-keyed aggregation.
    "q55_unigram_logprob" -> ((s, dir) =>
      TextOps.unigramLogProb(T(s, dir, "documents"))),

    // DSIR importance scores (hashed-unigram log-likelihood ratio,
    // target = English docs): per-bucket weights rounded once to e6,
    // per-doc score an exact integer sum — the published
    // data-selection estimator, O(nBuckets) model state
    "q208_dsir_scores" -> ((s, dir) =>
      graft.text.Dsir.importanceScores(T(s, dir, "documents"),
        col("lang") === "en", nBuckets = 1024, seed = 42L)),

    // exposure→outcome interval label join (view→click attribution
    // within 30 min) — batch form of the watermarked stream-stream join;
    // StreamingAndPipelineSpec pins stream == batch on the same pairs
    "q56_label_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.stream.EventStreams.labelJoin(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "click"), "30 minutes")
    }),

    // training-set assembly over the label join: one row per exposure,
    // binary label, match count, earliest-outcome lag (null on negatives)
    "q57_labeled_exposures" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.stream.EventStreams.labeledExposures(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "click"), "30 minutes")
    }),

    // negative downsampling over the labeled exposures: class-0 rows
    // hash-Bernoulli'd at 50%, positives untouched — deterministic
    // (md5-prefix threshold), shuffle-free, oracle-replayable
    "q58_downsample_negatives" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val labeled = graft.stream.EventStreams.labeledExposures(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "click"), "30 minutes")
      graft.util.Sampling.downsampleClass(
        labeled, "label", 0, keep = 0.5, seed = 42L, keyCols = Seq("exposure_id"))
    }),

    // O5/F6 under the hash check: the full SPARQL map-query BUILDER
    // (prefix block + typed UNION branches + regex/category template
    // substitution) materialized as text per item row — the oracle
    // reconstructs the exact string independently
    "q59_sparql_query_text" -> ((s, dir) =>
      graft.etl.Datasets.MovieLens100k.mapQueries(
        T(s, dir, "part").filter(col("p_partkey") < 100)
          .select(col("p_partkey").as("item_id"),
            col("p_name").as("movie_title"),
            (lit(1970) + col("p_size") % 50).cast("string").as("movie_year"))).get),

    // BM25 keyword extraction over whole-corpus (tf, df, dl) statistics
    "q60_bm25_keywords" -> ((s, dir) =>
      graft.text.Keywords.bm25Keywords(T(s, dir, "documents"), 3)
        .filter(col("doc_id") < 300)),

    // fixed-block sequence packing via the decomposed global prefix sum
    // (groupWidth forced small so the two-level path really executes)
    "q61_sequence_pack" -> ((s, dir) =>
      graft.prep.SequencePack.pack(T(s, dir, "documents"), 512, groupWidth = 256L)),

    // train->eval n-gram containment (decontamination gate): last tenth
    // of the corpus checked against the rest
    "q62_contamination" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      // scale-independent holdout boundary (one skinny agg, inlined);
      // empty table -> NULL max -> cut 0 (both splits empty, no NPE)
      val maxRow = docs.agg(max("doc_id")).head()
      val cut = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0) * 9L / 10L
      graft.text.Contamination.containment(
        docs.filter(col("doc_id") <= cut),
        docs.filter(col("doc_id") > cut), 3)
    }),

    // single-pass multi-column table profile (ANALYZE primitive):
    // one Expand-fused aggregate, native-typed extrema
    "q63_profile" -> ((s, dir) =>
      graft.util.Profile.profile(T(s, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_quantity", "l_returnflag", "l_shipdate"))),

    // Gopher-style within-document repetition quality signals: duplicate
    // 3-gram occurrence fraction (narrow, shuffle-free) + top-2-gram
    // share (one (doc, gram)-keyed exchange with partial combine)
    "q64_repetition" -> ((s, dir) =>
      graft.text.TextOps.repetitionStats(T(s, dir, "documents"))),

    // REAL image decode under the hash check: each doc gets a synthetic
    // 8×8 gray PNG whose pixel p is (doc_id·31+p) mod 256; extractFeatures
    // decodes it with javax.imageio and pools per-channel sums. The
    // emitted value is the integer RGB sum per stride bucket
    // (feature·3·255 rounded back — float-exact at this magnitude), which
    // the oracle recomputes from the pixel formula with no codec at all:
    // any decode defect breaks the hash.
    "q65_image_decode" -> ((s, dir) => {
      import s.implicits._
      val media = T(s, dir, "documents").select(col("doc_id")).as[Long]
        .map(id => graft.multimodal.MultimodalOps.Media(
          id, "image", graft.multimodal.MultimodalOps.syntheticPng(id, 8, 8), 8, 8, 0))
      graft.multimodal.MultimodalOps.extractFeatures(media, dim = 4).toDF()
        .select(col("id").as("doc_id"), posexplode(col("features")))
        .select(col("doc_id"), col("pos").cast("int").as("feat_idx"),
          expr("cast(round(col * 765) as bigint)").as("sum_rgb"))
    }),

    // REAL image resize under the hash check, same synthetic-PNG scheme
    // as q65: 8×8 → nearest-neighbor 4×4 → decode → pooled sums. NN maps
    // dst pixel (x, y) to src (2x, 2y), so dst pixel p reads src pixel
    // 16·(p div 4) + 2·(p mod 4) — pure integer arithmetic the oracle
    // replays with no codec; any resize defect breaks the hash.
    "q66_image_resize" -> ((s, dir) => {
      import s.implicits._
      val media = T(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val ops = graft.multimodal.MultimodalOps
          val small = ops.resizeNearest(ops.syntheticPng(id, 8, 8), 4, 4).get
          ops.Media(id, "image", small, 4, 4, 0)
        }
      graft.multimodal.MultimodalOps.extractFeatures(media, dim = 4).toDF()
        .select(col("id").as("doc_id"), posexplode(col("features")))
        .select(col("doc_id"), col("pos").cast("int").as("feat_idx"),
          expr("cast(round(col * 765) as bigint)").as("sum_rgb"))
    }),

    // HLL set-overlap: |A∩B| by inclusion–exclusion over register
    // unions (per-idx MAX) — 1996-vs-1997 customer-base overlap with
    // no exact distinct set ever materialized; same register algebra
    // as q177, so the whole derivation replays in DuckDB
    "q195_hll_overlap" -> ((s, dir) => {
      val o = T(s, dir, "orders").select(col("o_custkey"),
        expr("year(cast(o_orderdate as timestamp))").as("y"))
      graft.util.Sketches.hllOverlap(
        o.filter(col("y") === 1996).select("o_custkey"),
        o.filter(col("y") === 1997).select("o_custkey"),
        Seq("o_custkey"), b = 10, seed = 42L)
    }),

    // KMV set algebra (Beyer et al. 2007): the churn question q195's
    // HLL cannot answer — an ESTIMATED SET DIFFERENCE (customers who
    // ordered in 1996 but not 1997) from two bounded k-minimum-values
    // synopses; bounded-state custom Aggregator, ≤ k longs per
    // partition cross the shuffle
    "q196_kmv_set_diff" -> ((s, dir) => {
      val o = T(s, dir, "orders").select(col("o_custkey"),
        expr("year(cast(o_orderdate as timestamp))").as("y"))
      graft.util.Kmv.setOps(
        o.filter(col("y") === 1996).select("o_custkey"),
        o.filter(col("y") === 1997).select("o_custkey"),
        Seq("o_custkey"), k = 512, seed = 42L)
    }),

    // grouped KMV: per-language vocabulary-size estimates — the
    // grouped form of q196's synopsis (one map-side-combined aggregate,
    // ≤ k longs per (partition, group)); k=16 < per-lang vocab so the
    // (k−1)·2^52/h_k estimator branch is live and oracle-replayed
    "q203_kmv_grouped_vocab" -> ((s, dir) => {
      val words = T(s, dir, "documents")
        .select(col("lang"), explode(split(lower(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
      graft.util.Kmv.estimateGrouped(words, Seq("lang"), Seq("w"), k = 16, seed = 42L)
    }),

    // KMV churn riding the incremental-agg state (q114's surface +
    // q196's algebra): per-supplier part-catalog stats built from a
    // pre-1996 base and TWO yearly refreshes — the final state's
    // synopsis must equal from-scratch (merge law), and the churn
    // columns estimate parts NEW in 1997+ and parts DISCONTINUED
    // (seen before 1997, absent after) per supplier, a question the
    // HLL state (q114) structurally cannot answer
    "q205_kmv_churn" -> ((s, dir) => {
      import graft.util.{IncrementalAgg, Kmv}
      val li = T(s, dir, "lineitem").select(col("l_suppkey"), col("l_partkey"),
        col("l_quantity").cast("long").as("qty"),
        expr("unix_millis(cast(l_shipdate as timestamp)) div 86400000").as("ship_day"))
      val grp = Seq("l_suppkey")
      val k = 16
      val base = li.filter(col("ship_day") < 9496).drop("ship_day")
      val d1 = li.filter(col("ship_day") >= 9496 && col("ship_day") < 9862).drop("ship_day")
      val d2 = li.filter(col("ship_day") >= 9862).drop("ship_day")
      val s0 = IncrementalAgg.stateWithKmv(base, grp, "qty", "l_partkey", k, 42L)
      // s1 feeds BOTH the s2 refresh and the churn comparison — but
      // measured A/B shows checkpointing it HURTS (18.5 → 28.5 CPU-s):
      // ReuseExchange already dedups the identical s1 subtrees, so the
      // barrier only breaks pipelining. Left shared-lazy deliberately
      // (contrast q213, where the duplicated subtree is NOT
      // exchange-deduped and the checkpoint wins 173 → 105 CPU-s).
      val s1 = IncrementalAgg.refreshWithKmv(s0, d1, grp, "qty", "l_partkey", k, 42L)
      val s2 = IncrementalAgg.refreshWithKmv(s1, d2, grp, "qty", "l_partkey", k, 42L)
      val ch = IncrementalAgg.kmvChurn(s1,
        IncrementalAgg.stateWithKmv(d2, grp, "qty", "l_partkey", k, 42L), grp, k)
      s2.select(col("l_suppkey"), col("n"), col("sum").as("sum_qty"),
          size(col("kmv")).cast("long").as("k_total"),
          round(Kmv.estE6(col("kmv"), k)).cast("long").as("est_total_e6"))
        .join(ch, grp)
    }),

    // join-key skew profile: the pre-shuffle diagnostic — event_type is
    // the classic low-cardinality hot key (5 keys over 10k rows at 32
    // shuffle partitions → straggler ratio 6.45×, salt fan-out 7);
    // exact integers over one per-key count plus a value-rollup window
    "q198_key_skew" -> ((s, dir) =>
      graft.util.Profile.keySkew(T(s, dir, "events"), Seq("event_type"),
        shufflePartitions = 32)),

    // strongly connected components (FW-BW-Trim coloring): directed
    // part↔supplier graph with parity-chosen edge direction — cycle /
    // crawl-loop structure the undirected CC (q37/q118) cannot see;
    // scc_id = min member, replayed by a recursive mutual-reachability
    // closure
    "q201_scc" -> ((s, dir) => {
      val li = T(s, dir, "lineitem").filter(
        col("l_partkey") < 600 && col("l_quantity") < 3 && col("l_suppkey") < 60)
      val e = li.select(
        when(col("l_orderkey") % 2 === 0, col("l_partkey") * 2)
          .otherwise(col("l_suppkey") * 2 + 1).as("s"),
        when(col("l_orderkey") % 2 === 0, col("l_suppkey") * 2 + 1)
          .otherwise(col("l_partkey") * 2).as("t"))
      graft.graph.Scc.run(e, "s", "t")
    }),

    // multi-source BFS hop distances over the q201 directed graph:
    // landmark distances (GraphFrames shortestPaths semantics) from
    // the 4 smallest node ids, min-hop within 10, replayed by a
    // depth-bounded recursive closure
    "q211_bfs_hops" -> ((s, dir) => {
      val (e, sources) = bfsGraphAndSources(s, dir)
      // empty filtered subset ⇒ the oracle's LIMIT 4 yields no
      // landmarks and an empty walk — mirror with an empty frame
      if (sources.isEmpty)
        s.range(0).select(col("id").as("src"), col("id").as("node"),
          lit(0).as("dist"))
      else graft.graph.Bfs.multiSourceHops(e, "s", "t", sources, maxHops = 10)
    }),

    // landmark closeness centrality off the q211 distances: per node,
    // 10⁶·n_landmarks ÷ Σdist in exact integers — the published
    // landmark approximation (exact closeness is all-pairs)
    "q216_closeness_centrality" -> ((s, dir) => {
      val (e, sources) = bfsGraphAndSources(s, dir)
      if (sources.isEmpty)
        s.range(0).select(col("id").as("node"), col("id").as("n_landmarks"),
          col("id").as("sum_dist"), col("id").as("closeness_e6"))
      else graft.graph.Bfs.closeness(
        graft.graph.Bfs.multiSourceHops(e, "s", "t", sources, maxHops = 10))
    }),

    // entity resolution (Fellegi–Sunter shape): two-key blocking →
    // integer-permille field agreement (token Jaccard + exact + linear
    // numeric falloff) → weighted score → top-1 assignment per left
    // record; right side = a deterministically dirtied catalog (last
    // name word dropped, ids offset), so the oracle replays it and the
    // spec can measure truth recovery
    "q200_entity_resolution" -> ((s, dir) => erResolve(s, dir, unique = false)),

    // one-to-one entity resolution: the q200 scoring + 8 fixed rounds
    // of locally-dominant matching (parallel greedy == sequential
    // best-first greedy under the total order) — each dirty-catalog
    // record awarded to at most one master record
    "q202_er_unique_assign" -> ((s, dir) => erResolve(s, dir, unique = true)),

    // blocking-quality advisor over the q200 catalog: the two
    // production composite keys PLUS the r13 incident key (bare
    // brand) — reduction ratio, per-key candidate volume, pairs
    // completeness against the planted truth, and the quadratic flag
    // that would have caught the 116 s draft before it ran
    "q204_blocking_stats" -> ((s, dir) => {
      import graft.text.EntityResolution._
      val (l, r) = erCatalog(s, dir)
      val keys = erBlockKeys :+ ((col("l_brand"): org.apache.spark.sql.Column,
        col("r_brand"): org.apache.spark.sql.Column))
      val truth = T(s, dir, "part").select(col("p_partkey").as("left_id"),
        (col("p_partkey") + lit(1000000L)).as("right_id"))
      blockingStats(l, r, "left_id", "right_id", keys, Some(truth))
    }),

    // one-pass Pearson correlation matrix over fixed-point feature
    // columns: p sums + p sum-squares + p(p−1)/2 sum-products in ONE
    // map-side-combined aggregate (exact decimal moments, single float
    // expression per pair) — the feature-screening scan
    "q199_corr_matrix" -> ((s, dir) => {
      val li = T(s, dir, "lineitem").select(
        expr("cast(round(l_quantity) as bigint)").as("qty"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("price_c"),
        expr("cast(round(l_discount * 1000) as bigint)").as("disc_pm"),
        expr("cast(round(l_tax * 1000) as bigint)").as("tax_pm"))
      graft.util.Profile.corrMatrix(li, Seq("qty", "price_c", "disc_pm", "tax_pm"))
    }),

    // ViT-style patchify under a REAL decode: 16×16 synthetic PNG per
    // doc (pixel p = (doc_id·31+p) mod 256), 4×4 patches, exact-integer
    // per-patch sums/min/max — the oracle replays the pixel formula
    // with no codec; any decode/tiling defect breaks the hash
    "q194_image_patchify" -> ((s, dir) => {
      import s.implicits._
      val media = T(s, dir, "documents").select(col("doc_id")).as[Long]
        .map(id => graft.multimodal.MultimodalOps.Media(
          id, "image", graft.multimodal.MultimodalOps.syntheticPng(id, 16, 16), 16, 16, 0))
      graft.multimodal.MultimodalOps.patchFeatures(media, patch = 4)
        .select(col("id").as("doc_id"), col("patch_idx").cast("int").as("patch_idx"),
          col("sum_rgb"), col("min_rgb"), col("max_rgb"))
    }),

    // Backward as-of join: each click enriched with the user's most
    // recent prior-or-equal purchase (AsofJoin.asofBackward — union +
    // one keyed window, zero join nodes). Oracled by DuckDB's native
    // ASOF LEFT JOIN; equal-ts purchase dups deduped to max event_id on
    // both sides so both engines pick the same row.
    "q77_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      graft.util.AsofJoin.asofBackward(clicks, purchases, Seq("user_id"),
          "ts", "ts", Seq("event_id", "value"), "event_id")
        .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ts_ms"),
          col("asof_event_id").as("purchase_id"),
          round(col("asof_value"), 4).as("purchase_value"),
          (unix_millis(col("ts")) - unix_millis(col("asof_ts"))).as("lag_ms"))
    }),

    // Fixed-window overlapped chunking (Chunking.chunk, 200-char chunks
    // every 150) — map-only generator, integer arithmetic replayed
    // verbatim by the oracle
    "q78_doc_chunks" -> ((s, dir) =>
      graft.text.Chunking.chunk(T(s, dir, "documents"), "text", 200, 150,
          Seq("doc_id", "source"))
        .select(col("doc_id"), col("source"), col("chunk_idx").cast("long").as("chunk_idx"),
          md5(col("chunk_text")).as("chunk_fp"),
          col("chunk_chars").cast("long").as("chunk_chars"))),

    // Temperature-weighted domain mixing (Sampling.domainMix, alpha=0.5
    // over per-source char mass, target 50%) — per-domain md5-threshold
    // Bernoulli, broadcast rates, keep_rate pinned to 6 decimals so the
    // two engines' pow draws agree at the threshold
    "q79_domain_mix" -> ((s, dir) =>
      graft.util.Sampling.domainMix(T(s, dir, "documents"), "source", "n_chars",
          alpha = 0.5, targetFraction = 0.5, seed = 7L, keyCols = Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("keep_rate"))),

    // Exact-count stratified sample: first 5 docs per lang under the
    // seeded-md5 total order (Sampling.stratifiedTake)
    "q80_stratified_sample" -> ((s, dir) =>
      graft.util.Sampling.stratifiedTake(T(s, dir, "documents"), Seq("lang"),
          n = 5, seed = 11L, keyCols = Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("source"))),

    // Symmetric int8 embedding quantization (Quantize.int8): per-vector
    // scale, exact integer code checksum, reconstruction RMSE — all
    // narrow array expressions inside codegen
    "q81_embed_quantize" -> ((s, dir) =>
      graft.knn.Quantize.int8(T(s, dir, "embeddings"), "embedding")
        .select(col("vec_id"), round(col("scale"), 6).as("scale_r"),
          expr("aggregate(qvec, cast(0 as bigint), (a, q) -> a + abs(q))").as("sum_abs_q"),
          round(col("quant_rmse"), 4).as("rmse_r"))),

    // Per-group EXACT interpolated quantiles (Profile.groupQuantiles =
    // ANSI percentile_cont semantics, which DuckDB's quantile_cont
    // replays bit-for-bit under round-6)
    "q82_group_quantiles" -> ((s, dir) =>
      graft.util.Profile.groupQuantiles(T(s, dir, "lineitem"),
          Seq("l_returnflag"), "l_extendedprice", Seq(0.25, 0.5, 0.75, 0.99))
        .select(col("l_returnflag"),
          round(col("q_25"), 6).as("p25"), round(col("q_50"), 6).as("p50"),
          round(col("q_75"), 6).as("p75"), round(col("q_99"), 6).as("p99"))),

    // Tukey-fence outlier tagging per event type (Profile.iqrOutliers —
    // broadcast fences, corpus never shuffles); emits per-group counts
    // + the fences themselves so the quantile parity is under the hash
    "q83_iqr_outliers" -> ((s, dir) =>
      graft.util.Profile.iqrOutliers(Tables.events(s, dir), Seq("event_type"), "value")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"))),

    // Deterministic global shuffle into 8 training shards
    // (Sampling.shard): balanced md5-mod shard id + stable in-shard
    // position, independent of partitioning
    "q84_shard_assign" -> ((s, dir) =>
      graft.util.Sampling.shard(T(s, dir, "documents"), nShards = 8, seed = 5L,
          keyCols = Seq("doc_id"))
        .select(col("doc_id"), col("shard"), col("shard_pos"))),

    // SRP-LSH ANN with a fully SQL-replayable index (SrpLsh.srpTopK):
    // int8 codes × integer plane weights → sign-bit buckets — every
    // step integer-exact in both engines, so unlike the MLlib-RNG LSH
    // (q22, golden-pinned) the whole index is independently recomputed
    // by the oracle. Exact cosine re-rank on candidates only.
    "q85_ann_srp" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
        .select(col("vec_id").as("id"),
          expr("transform(embedding, x -> cast(x as double))").as("vec"))
      graft.knn.SrpLsh.srpTopK(e.filter(col("id") < 50), e, dim = 64, k = 3,
          excludeSelf = true)
        .select(col("query_id"), col("item_id").as("neighbor_id"), col("rank"),
          round(col("score"), 6).as("cos_r"))
    }),

    // URL extraction + normalization (UrlOps) — q75's injection scheme:
    // the corpus is URL-free by construction, so deterministic URLs are
    // injected from doc_id identically in the oracle; the extractor
    // must find and normalize exactly those
    "q86_url_extract" -> ((s, dir) => {
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
    }),

    // The STATEFUL as-of kernel itself under the oracle gate: q77's
    // point-in-time semantics computed by EventStreams.asofEnrich
    // (flatMapGroupsWithState) in batch mode instead of the union+window
    // kernel — same DuckDB ASOF oracle, so the state-machine path is
    // hash-checked, not just spec-checked
    "q87_asof_stateful" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[graft.stream.EventStreams.Event]
      graft.stream.EventStreams.asofEnrich(ev, "click", "purchase").toDF()
        .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ts_ms"),
          col("asof_event_id").as("purchase_id"),
          round(col("asof_value"), 4).as("purchase_value"),
          (unix_millis(col("ts")) - unix_millis(col("asof_ts"))).as("lag_ms"))
    }),

    // S-series companion to q43: JSON-lines SINK + source roundtrip —
    // the oracle re-reads the file this query writes, so Spark's JSON
    // encoding (string escaping included) is under the hash check
    "q88_jsonl_roundtrip" -> ((s, dir) => {
      val out = s"$runScratch/q88_jsonl"
      T(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"), col("n_chars"))
        .coalesce(1).write.mode("overwrite").json(out)
      s.read.schema("doc_id LONG, lang STRING, text STRING, n_chars LONG").json(out)
        .select(col("doc_id"), col("lang"), md5(col("text")).as("text_fp"), col("n_chars"))
    }),

    // C4-style line-level corpus dedup: 3-word "lines" (the driver corpus
    // has no newlines; its small vocabulary makes 3-grams recur across
    // docs naturally), every non-first occurrence dropped corpus-wide,
    // docs reassembled from survivors — per-doc counts + reassembled-text
    // fingerprint under the hash
    "q89_line_dedup" -> ((s, dir) => {
      graft.text.LineDedup.dedupCorpus(T(s, dir, "documents"), 3)
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          md5(col("text")).as("text_fp"))
    }),

    // Lee-et-al span-level dup signal: fraction of each doc's positional
    // 5-gram spans that occur in >= 2 distinct documents (permille,
    // floor — integer-exact across engines)
    "q90_dup_spans" -> ((s, dir) =>
      Dedup.dupSpanStats(T(s, dir, "documents"), 5)),

    // Hive-style partitioned parquet SINK + partition-PRUNED read-back:
    // the write lays documents out by lang=... directories, the read
    // filter prunes to 2 of 5 partitions before any row is touched
    // (PartitionFilters, spec-pinned) — the layout primitive that turns
    // a 100 TB scan into a 2-partition scan
    "q91_partitioned_sink" -> ((s, dir) => {
      val out = s"$runScratch/q91_part"
      T(s, dir, "documents").write.mode("overwrite").partitionBy("lang").parquet(out)
      s.read.parquet(out)
        .filter(col("lang").isin("en", "fr"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
    }),

    // The salted skew join under a VALUE oracle (ScaleJoinsSpec pins its
    // plan shape; this pins row-for-row equivalence with the plain
    // equi-join): lineitem⋈part on partkey, 8-way salt, centi-scaled
    // integer quantity sum per brand
    "q92_salted_skew_join" -> ((s, dir) => {
      val li = T(s, dir, "lineitem").select(col("l_partkey").as("key"),
        expr("cast(cast(l_quantity as decimal(18,2)) * 100 as bigint)").as("qty_centi"))
      val p = T(s, dir, "part").select(col("p_partkey").as("key"), col("p_brand"))
      graft.util.ScaleJoins.saltedJoin(li, p, "key", 8)
        .groupBy("p_brand")
        .agg(sum("qty_centi").as("sum_qty_centi"), count(lit(1)).as("n_rows"))
    }),

    // S-series: ORC sink + source roundtrip (columnar interchange format
    // #2 next to parquet) — DuckDB can't read ORC, so the oracle replays
    // the projection from the original parquet; any roundtrip corruption
    // breaks the hash
    "q93_orc_roundtrip" -> ((s, dir) => {
      val out = s"$runScratch/q93_orc"
      T(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"), col("n_chars"))
        .coalesce(1).write.mode("overwrite").orc(out)
      s.read.orc(out)
        .select(col("doc_id"), col("lang"), md5(col("text")).as("text_fp"), col("n_chars"))
    }),

    // The STREAMING LSH dedup kernel (bucket-anchor state machine) in
    // batch mode, against an independent DuckDB replay of the full
    // minhash chain: shingle → md5 48-bit parse → affine minhashes →
    // 4×2 banding → per-bucket min-doc anchor → (anchor, member) pairs
    // counted per band
    "q94_stream_lsh_dedup" -> ((s, dir) =>
      graft.stream.StreamingDedup.candidates(T(s, dir, "documents"), 4, 3, 2)
        .toDF()
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_bands"))),

    // BPE training's distributed core — frequency-weighted adjacent
    // symbol-pair counts over the character-tokenized word vocabulary
    // (round 1 of Bpe.train), top 20 under a total tie order
    "q95_bpe_pairs" -> ((s, dir) =>
      graft.text.Bpe.pairCounts(graft.text.Bpe.initialVocab(T(s, dir, "documents")))
        .orderBy(desc("cnt"), col("a"), col("b")).limit(20)),

    // BPE ENCODING with a fixed merge table (the production op: apply a
    // released vocab to a corpus; this table is what Bpe.train(8) learns
    // on the sf0.01 corpus — see BpeProbe). Each merge is one codegen'd
    // replace over the U+001F-joined tokenization; the oracle replays
    // the identical replace chain
    "q96_bpe_encode" -> ((s, dir) =>
      graft.text.Bpe.encode(T(s, dir, "documents"), BpeMerges)
        .select(col("doc_id"), col("n_words"), col("n_tokens"),
          md5(col("tokens")).as("tokens_fp"))),

    // Last-writer-wins key compaction (CDC merge / snapshot refresh):
    // base snapshot at version 0, an update batch rewriting every 5th
    // doc at version 1, one key-windowed compaction — no join
    "q97_upsert_compact" -> ((s, dir) => {
      val base = T(s, dir, "documents")
        .select(col("doc_id"), col("text"), lit(0).as("version"))
      val updates = T(s, dir, "documents").filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), upper(col("text")).as("text"), lit(1).as("version"))
      graft.util.Upsert.compact(Seq(base, updates), "doc_id", Seq("version"))
        .select(col("doc_id"), col("version"), md5(col("text")).as("text_fp"))
    }),

    // Bloom-pruned semi join: executor-built Bloom over the selective
    // order keys pre-filters lineitem BEFORE its shuffle; the exact
    // semi join removes bloom false positives, so the result is
    // row-identical to the plain semi join the oracle runs
    "q98_bloom_prune_join" -> ((s, dir) => {
      val big = T(s, dir, "lineitem").select(col("l_orderkey").as("key"),
        expr("cast(cast(l_quantity as decimal(18,2)) * 100 as bigint)").as("qty_centi"))
      val small = T(s, dir, "orders").filter(col("o_totalprice") > 450000)
        .select(col("o_orderkey").as("key"))
      graft.util.ScaleJoins.bloomSemiJoin(big, small, "key", 100000L, 0.01)
        .agg(count(lit(1)).as("n_rows"), sum("qty_centi").as("sum_qty_centi"),
          countDistinct("key").as("n_orders"))
    }),

    // Gopher/FineWeb-style curation gate: five deterministic rules with
    // the failed set as a bitmask (pipelines keep reasons for ablations,
    // not just the verdict); pure integer arithmetic, shuffle-free
    "q99_curation_gate" -> ((s, dir) =>
      TextOps.curationGate(T(s, dir, "documents"))),

    // Snapshot diff between two corpus versions: every 11th doc removed,
    // every 7th (surviving) doc rewritten, every 13th re-added under a
    // shifted key — per-status counts plus an order-pinned key digest
    "q100_snapshot_diff" -> ((s, dir) => {
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
    }),

    // Range-partitioned + sorted parquet layout, then a key-range scan
    // that parquet row-group min/max stats can prune (PushedFilters,
    // spec-pinned): the sort-at-write primitive that turns point/range
    // lookups over 100 TB into a handful of row groups
    "q101_sorted_layout" -> ((s, dir) => {
      val out = s"$runScratch/q101_sorted"
      T(s, dir, "documents")
        .repartitionByRange(8, col("doc_id")).sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .filter(col("doc_id").between(1000, 3000))
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
    }),

    // Perceptual image hash (aHash) over REAL PNG decode: 16×16
    // synthetic gray PNGs → javax.imageio decode → integer-NN 8×8
    // downsample → strict-inequality mean threshold. The oracle
    // recomputes all 64 bits straight from the pixel formula with no
    // codec — decode, NN map, or threshold defects all break the hash
    "q102_image_phash" -> ((s, dir) => {
      import s.implicits._
      val media = T(s, dir, "documents").select(col("doc_id")).as[Long]
        .map(id => graft.multimodal.MultimodalOps.Media(
          id, "image", graft.multimodal.MultimodalOps.syntheticPng(id, 16, 16), 16, 16, 0))
      graft.multimodal.MultimodalOps.perceptualHashes(media)
        .select(col("id").as("doc_id"), col("phash"),
          (lit(64) - length(replace(col("phash"), lit("1"), lit("")))).cast("long").as("n_set"))
    }),

    // Unicode NFC normalization (native codegen'd expression; DuckDB's
    // utf8proc nfc_normalize is the independent oracle): every 3rd doc
    // gets a DECOMPOSED accent appended (e + U+0301), normalization
    // must collapse it to the composed form — codepoint lengths and the
    // normalized fingerprint are under the hash
    "q103_unicode_normalize" -> ((s, dir) => {
      val txt = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" e\u0301clat"))).otherwise(col("text"))
      T(s, dir, "documents")
        .select(col("doc_id"), txt.as("txt"))
        .select(col("doc_id"), length(col("txt")).cast("long").as("len_raw"),
          graft.functions.NfcNormalize(col("txt")).as("norm"))
        .select(col("doc_id"), col("len_raw"),
          length(col("norm")).cast("long").as("len_nfc"),
          md5(col("norm")).as("norm_fp"))
    }),

    // The STREAMING LWW-compaction kernel (q97's semantics through
    // flatMapGroupsWithState) in batch mode: base snapshot + v1 update
    // batch fold to one winner per key inside the state machine — same
    // CASE-expressed oracle shape as q97, so the stateful path is
    // hash-checked like q87 (as-of) and q94 (LSH dedup)
    "q104_stream_upsert" -> ((s, dir) => {
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
    }),

    // Dedup observability: which SOURCES contribute the duplicate mass
    // (the audit every corpus-dedup rollout ships with). A doc is a dup
    // candidate iff some LSH bucket pairs it with an earlier anchor
    // (q94's contract); rates as floor permille per source
    "q105_dedup_audit" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val dups = Dedup.lshAnchorPairs(docs, 4, 3, 2)
        .select(col("doc_b").as("doc_id")).distinct()
      docs.join(dups.withColumn("__dup", lit(true)), Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__dup"), 1L).otherwise(0L)).as("n_dup"))
        .select(col("source"), col("n_docs"), col("n_dup"),
          expr("n_dup * 1000 div n_docs").as("dup_permille"))
    }),

    // Token-budgeted quality selection (FineWeb-edu-style corpus
    // assembly): per source, admit documents in (quality DESC, doc_id)
    // order until the cumulative token count crosses the budget — a doc
    // is in iff the budget wasn't exhausted BEFORE it. The running sum
    // is the decomposed three-level prefix sum of
    // [[graft.prep.TokenBudget]] (bit-identical to the naive per-source
    // window, minus its monolithic per-source sort)
    "q106_token_budget_select" -> ((s, dir) => {
      val budget = 2000L
      val scored = T(s, dir, "documents").select(col("doc_id"), col("source"),
        TextOps.qualityScore(col("text")).as("quality"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      graft.prep.TokenBudget.select(scored, budget)
        .groupBy("source")
        .agg(count(lit(1)).as("n_selected"), max("cum_tokens").as("tokens_taken"),
          md5(array_join(transform(array_sort(collect_list(col("doc_id"))),
            x => x.cast("string")), ",")).as("ids_fp"))
    }),

    // Hard-negative mining (contrastive training): per query vector the
    // top-2 neighbors by cosine STRICTLY BELOW the 0.95 near-dup
    // ceiling — near-duplicates must never be served as negatives
    "q107_hard_negatives" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
        .select(col("vec_id").as("id"),
          expr("transform(embedding, x -> cast(x as double))").as("vec"))
      CosineKnn.hardNegatives(e.filter(col("id") < 50), e, 2, 0.95)
        .select(col("query_id"), col("item_id").as("negative_id"), col("rank"),
          round(col("score"), 6).as("cos_r"))
    }),

    // The COMPOSED corpus pipeline — every stage is individually green
    // (q99, q89, q76, q106, q61, q84); this runs them as one chained
    // plan and hashes the final shard manifest, pinning the column
    // contracts and fingerprint stability ACROSS stage boundaries (the
    // reference's own value is the chained experiment, not single ops):
    // curation gate → line-level dedup (rewritten text, '\n'→' ') →
    // MinHash-LSH near-dup clusters → canonical survivors →
    // token-budgeted quality selection per source → fixed-block
    // sequence packing → deterministic sharding
    "q108_pipeline_e2e" -> ((s, dir) => {
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
    }),

    // W1 global split through the DECOMPOSED exact rank (EdgeSplits.
    // byRatioGlobalScalable): same `rn > N - ceil(N*p)` flag as the
    // monolithic global window, with the total order split into skinny
    // per-bucket offsets + a 256-way-parallel bucket-partitioned
    // window — the flagged single-partition window of level=global is
    // gone from the scale path, and the oracle replays the NAIVE
    // window, so the decomposition equality is under the hash gate
    "q109_split_global" -> ((s, dir) => {
      val key = Seq(EdgeSplits.portableHash(42), col("item_id"), col("user_id"))
      EdgeSplits.byRatioGlobalScalable(Tables.ratings(s, dir), 0.25, key,
        EdgeSplits.hexBucket(EdgeSplits.portableHash(42)))
        .select("user_id", "item_id", "is_test")
    }),

    // Co-located bucketed join: both fact tables written bucketBy(8)
    // on the join key, then joined AND aggregated on it — with
    // bucketing metadata both the join and the groupBy reuse the
    // storage partitioning, so the only exchanges in the plan are the
    // writes themselves (PlanSpec pins the exchange-free read side).
    // The oracle replays the same join/agg over the raw tables.
    "q110_bucketed_join" -> ((s, dir) => {
      graft.util.ScaleJoins.writeBucketed(
        T(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        "q110_orders", "o_orderkey", 8, path = Some(s"$runScratch/q110_orders"))
      graft.util.ScaleJoins.writeBucketed(
        T(s, dir, "lineitem").select("l_orderkey", "l_quantity"),
        "q110_lineitem", "l_orderkey", 8, path = Some(s"$runScratch/q110_lineitem"))
      s.table("q110_orders")
        .join(s.table("q110_lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          round(max("o_totalprice"), 2).as("total_price"))
    }),

    // Bin-bucketed range join (RangeJoin.pointInInterval): lineitems
    // shipped inside each urgent order's 4-day [orderdate, +3d] window
    // — a pure BETWEEN theta-join (no key equality) that stock Spark
    // would plan as BroadcastNestedLoopJoin, turned into one bin-keyed
    // equi-join + exact filter. Day-granular axis, binWidth 4 ⇒ ≤2
    // bins per interval. The oracle replays the raw BETWEEN join.
    "q111_range_join" -> ((s, dir) => {
      val points = T(s, dir, "lineitem")
        .select(expr("unix_millis(cast(l_shipdate as timestamp)) div 86400000").as("ship_day"),
          col("l_quantity").cast("long").as("qty"))
      val intervals = T(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"),
          expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000").as("win_start"))
        .withColumn("win_end", col("win_start") + 3)
      graft.util.RangeJoin.pointInInterval(
          points, "ship_day", intervals, "win_start", "win_end", binWidth = 4)
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_ship"), sum("qty").as("sum_qty"))
    }),

    // Z-order (Morton) layout: lineitem tiled along the interleaved
    // bits of (l_partkey, l_suppkey) — each file a 2-D tile with tight
    // min/max on BOTH columns, so box AND single-dimension predicates
    // prune files, where q101's one-column sort serves only its sort
    // column. The box aggregate read back through the layout is under
    // the hash (layout must not change values); the pruning itself is
    // pinned in ScaleJoinsSpec via recordsRead A/B and PushedFilters.
    "q112_zorder_layout" -> ((s, dir) => {
      val out = s"$runScratch/q112_zorder"
      graft.util.ZOrder.writeZOrdered(
        T(s, dir, "lineitem")
          .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity"),
        "l_partkey", "l_suppkey", out)
      s.read.parquet(out)
        .filter(col("l_partkey").between(100, 400) && col("l_suppkey").between(2, 6))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          min("l_orderkey").as("min_ok"), max("l_orderkey").as("max_ok"))
    }),

    // Generic bounded-heap per-group top-k (TopK.perGroup): top-3
    // lineitems per order by extended price — the agg form of the
    // rank()<=k window, shuffling ≤ groups × partitions × k rows
    // instead of every row (TopKSpec measures the reduction). Ordering
    // on the RAW double, rounding only in the output projection, tie
    // broken by the unique line number — both engines identical.
    "q113_topk_groups" -> ((s, dir) => {
      val li = T(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber").as("line_no"),
          col("l_partkey"), col("l_extendedprice"))
      graft.util.TopK.perGroup(li, Seq("l_orderkey"), "l_extendedprice",
          Seq("line_no"), k = 3)
        .select(col("l_orderkey"), col("line_no"), col("l_partkey"),
          round(col("l_extendedprice"), 2).as("price"), col("rank"))
    }),

    // Incremental algebraic aggregate maintenance (IncrementalAgg):
    // per-part quantity stats built from a pre-1996 base state and
    // refreshed through TWO yearly delta batches — each refresh scans
    // only its delta plus the skinny state, and the final state must be
    // bit-equal to the oracle's from-scratch recompute over the whole
    // table (sums exact longs; the mean derived at read time in scaled
    // integers, never stored)
    "q114_incremental_agg" -> ((s, dir) => {
      val li = T(s, dir, "lineitem").select(col("l_partkey"),
        col("l_quantity").cast("long").as("qty"),
        expr("unix_millis(cast(l_shipdate as timestamp)) div 86400000").as("ship_day"))
      val grp = Seq("l_partkey")
      val base = li.filter(col("ship_day") < 9496)                // < 1996-01-01
      val d1 = li.filter(col("ship_day") >= 9496 && col("ship_day") < 9862) // 1996
      val d2 = li.filter(col("ship_day") >= 9862)                 // rest
      val s0 = graft.util.IncrementalAgg.state(base.drop("ship_day"), grp, "qty")
      val s1 = graft.util.IncrementalAgg.refresh(s0, d1.drop("ship_day"), grp, "qty")
      val s2 = graft.util.IncrementalAgg.refresh(s1, d2.drop("ship_day"), grp, "qty")
      s2.select(col("l_partkey"), col("n"), col("sum").as("sum_qty"),
        col("min").as("min_qty"), col("max").as("max_qty"),
        expr("(sum * 10000) div n").as("mean_e4"))
    }),

    // SemDeDup (Abbas et al. 2023): integer k-means over the q81 int8
    // codes bounds the quadratic near-dup scope to one cluster; the
    // cosine test runs in exact longs (10^4*dot^2 vs tau2*|a|^2*|b|^2)
    // so DuckDB replays cluster ids AND dup flags bit-for-bit
    "q115_semdedup" -> ((s, dir) =>
      graft.knn.SemDeDup.semDedup(
        T(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, iters = 3, tau2PerTenK = 1225L)),

    // PageRank over the q13 KG triple graph in exact scaled-integer
    // arithmetic (rank div outdeg contributions, 0.85 damping as
    // (85*s) div 100) — every node's fixed-point rank under the hash
    "q116_pagerank" -> ((s, dir) => {
      graft.graph.PageRank.core(kgEncoded(s, dir), iters = 5,
          scale = 1000000000L, seedPred = None)
        .select(col("node"), col("rank_e").as("rank_e9"))
    }),

    // exact hot-token detection WITHOUT a full token shuffle: narrow
    // Misra-Gries candidate pass (capacity 30 < the 31-word vocab, so
    // the eviction path runs for real) + exact recount of candidates;
    // deterministic, so a plain GROUP BY/HAVING replays it
    "q117_heavy_hitters" -> ((s, dir) => {
      val words = T(s, dir, "documents")
        .select(explode(split(lower(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
      graft.util.HeavyHitters.exact(words, "w", m = 30)
    }),

    // connected components of the q34 semantic near-dup graph on the
    // DataFrame engine (min-label propagation to fixpoint) — the
    // Tungsten-native alternative to q37's GraphX path; unpaired
    // vectors are their own singleton component
    "q118_components" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings").select(col("vec_id").as("id"),
        expr("transform(embedding, x -> cast(x as double))").as("vec"))
      val pairs = Dedup.embeddingNearDup(emb, 0.45).select("a_id", "b_id")
      val cc = graft.graph.ConnectedComponents.run(pairs, "a_id", "b_id")
      T(s, dir, "embeddings").select(col("vec_id"))
        .join(cc, col("vec_id") === col("node"), "left")
        .select(col("vec_id"),
          coalesce(col("component"), col("vec_id")).as("component"))
    }),

    // tokenizer fertility per source: BPE tokens per character of the
    // q96 fixed merge table — the tokenizer-efficiency readout used to
    // compare vocabularies; all-integer rollup (tokens*10^4 div chars)
    "q119_token_fertility" -> ((s, dir) => {
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
    }),

    // per-label embedding prototypes + spread over the q81 int8 codes —
    // exact integer centroid/tightness, the class-health readout
    "q120_label_prototypes" -> ((s, dir) =>
      graft.knn.Prototypes.tightness(
        graft.knn.Quantize.int8(T(s, dir, "embeddings"), "embedding")
          .select(col("label"), col("qvec")), "label")
        .select(col("group").as("label"), col("n_vecs"),
          col("sum_d2"), col("mean_d2_e2"))),

    // leakage-safe split: whole SOURCES land on one side (row-level
    // splits can't prevent near-dup train/eval contamination) — the
    // house md5-threshold scheme, one narrow expression
    "q121_group_split" -> ((s, dir) =>
      graft.util.Sampling.groupSplit(T(s, dir, "documents"), "source",
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)), seed = 42L)
        .select(col("doc_id"), col("source"), col("split"))),

    // personalized PageRank: teleport restricted to the User nodes —
    // item/property ranks become user-proximity scores (the
    // walk-with-restart recommender baseline), same integer arithmetic
    "q122_personalized_pagerank" -> ((s, dir) => {
      graft.graph.PageRank.core(kgEncoded(s, dir), iters = 5,
          scale = 1000000000L, seedPred = Some(n => n.startsWith("User(")))
        .select(col("node"), col("rank_e").as("rank_e9"))
    }),

    // item-based CF (itemKNN): exact integer-Jaccard item-item
    // similarities over capped relevant interactions (cap=50 binds
    // in-query: max relevant user degree is 58 at sf0.1), support
    // prune cooc>=2, top-10 neighbor lists, top-5 unseen recs
    "q123_itemknn_recs" -> ((s, dir) => knnRecs(s, dir)),

    // HITS hubs/authorities over the KG triple graph: the two-role
    // link-analysis score (subjects that point at good objects vs
    // objects endorsed by good subjects), exact scaled-integer
    "q125_hits" -> ((s, dir) =>
      graft.graph.Hits.run(kgTriples(s, dir), "head", "tail", iters = 3)),

    // synchronous label-propagation communities over the KG triple
    // graph (mode label, smallest-label tie-break — deterministic,
    // unlike GraphX's hash-order ties)
    "q126_lpa_communities" -> ((s, dir) =>
      graft.graph.LabelPropagation.run(kgTriples(s, dir), "head", "tail", iters = 4)),

    // word2vec-style phrase detection: adjacent-token lift in exact
    // scaled integers over the documents token stream
    "q127_collocations" -> ((s, dir) =>
      graft.text.Collocations.phrases(
        T(s, dir, "documents"), "text", minCount = 10, delta = 5)),

    // missing-edge proposal on the item co-interaction projection:
    // distance-2 pairs through centers of degree <= 40, integer
    // neighborhood Jaccard, existing edges removed
    "q128_link_prediction" -> ((s, dir) =>
      graft.graph.LinkPrediction.commonNeighbors(
        coocTable(s, dir)
          .select(col("item_a").as("u"), col("item_b").as("v")),
        minCn = 2, maxCenterDeg = 40)
        .select(col("a").as("item_a"), col("b").as("item_b"),
          col("cn"), col("jaccard_e4"))),

    // view -> click -> purchase conversion funnel (strict-order
    // progression, one shuffle + per-user sorted walk)
    "q129_funnel" -> ((s, dir) =>
      graft.stream.Funnel.windowFunnel(
        Tables.events(s, dir).withColumn("ts_ms", unix_millis(col("ts"))),
        "user_id", "event_type", "ts_ms", Seq("view", "click", "purchase"))
        .select(col("user_id"), col("step0_ms").as("view_ms"),
          col("step1_ms").as("click_ms"), col("step2_ms").as("purchase_ms"),
          col("stage"))),

    // sharded inverted index over the documents corpus (posting rows
    // bounded at shardSize entries; hot terms spread across shards)
    "q130_inverted_index" -> ((s, dir) =>
      graft.text.InvertedIndex.build(T(s, dir, "documents"), "doc_id", "text",
        shardSize = 64)),

    // weekly cohort retention over the event log (pure epoch-week
    // buckets, one corpus shuffle)
    "q131_cohort_retention" -> ((s, dir) =>
      graft.stream.Cohorts.retention(
        Tables.events(s, dir).withColumn("ts_ms", unix_millis(col("ts"))),
        "user_id", "ts_ms")),

    // session Markov transitions with ^/$ entry/exit states
    // (30-minute gap sessions, one exchange)
    "q132_session_transitions" -> ((s, dir) =>
      graft.stream.Journeys.sessionTransitions(
        Tables.events(s, dir), gapMs = 1800000L)),

    // hybrid retrieval: reciprocal-rank fusion of the itemKNN
    // ranking (q123) with a global-popularity ranking — rank-only
    // combination, exact 10^6 div (60 + rank) contributions
    "q133_rrf_fusion" -> ((s, dir) => {
      val knn = knnRecs(s, dir).select("user_id", "item_id", "rank")
      graft.model.Rrf.fuse(Seq(knn, popRank20(s, dir)), k = 60L, topK = 5)
    }),

    // the streaming funnel kernel run in batch mode (one group pass,
    // empty initial state == the q129 batch walk, same oracle)
    "q136_funnel_stateful" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[graft.stream.EventStreams.Event]
      graft.stream.Funnel.statefulProgress(ev, Seq("view", "click", "purchase")).toDF()
        .select(col("user_id"), col("slots")(0).as("view_ms"),
          col("slots")(1).as("click_ms"), col("slots")(2).as("purchase_ms"),
          col("stage"))
    }),

    // beyond-accuracy eval: catalog coverage + Gini concentration of
    // the itemKNN top-5 recommendations (exact scaled ints; the Gini
    // rank sum needs no per-item rank — count-of-counts rollup only)
    "q137_rec_coverage" -> ((s, dir) => {
      val r = Tables.ratings(s, dir)
      val recs = knnRecs(s, dir).select("user_id", "item_id")
      graft.eval.Coverage.summary(recs, r.select("item_id"))
    }),

    // beyond-accuracy eval: per-user novelty (mean self-information,
    // q12-precedent rounded log2) + intra-list diversity (exact e6
    // ints over the itemKNN similarity table)
    "q138_novelty_ild" -> ((s, dir) => {
      val r = Tables.ratings(s, dir)
      // top-5 == the shared top-10 recommend cut at rank 5 (row_number
      // prefix stability under the total order)
      val recs = knnRecs(s, dir).select("user_id", "item_id")
      graft.eval.Coverage.noveltyIld(recs, r,
        itemSims(s, dir).select("item_a", "item_b", "sim"))
    }),

    // MMR diversification of the itemKNN top-10 candidates: 3 greedy
    // picks per user at λ=1/2 (integer mmr2x = rel − max sim to the
    // picked set; per-user bounded walk, exact BIGINTs)
    "q139_mmr_diversify" -> ((s, dir) => {
      val cands = knnTop10(s, dir).select("user_id", "item_id", "score")
      graft.model.Mmr.diversify(cands,
        itemSims(s, dir).select("item_a", "item_b", "sim"), 3)
    }),

    // Kendall-τ agreement between the itemKNN ranking and the
    // popularity baseline over each user's shared items (exact ints;
    // "does the model rank differently from popular?")
    "q158_rank_agreement" -> ((s, dir) => {
      val knn = knnRecs(s, dir).select("user_id", "item_id", "rank")
      graft.eval.RankAgreement.kendallTau(knn, popRank20(s, dir))
    }),

    // first-order Markov next-item transitions over user timelines
    // (the sequential-rec baseline; q144's narrow zip pairing)
    "q155_markov_next_item" -> ((s, dir) => markovT1(s, dir)),

    // serve the Markov model: each user's last item -> its top next
    // unseen transitions (sequential-rec composition of q155)
    "q157_markov_recs" -> ((s, dir) =>
      graft.model.MarkovNextItem.recommendFrom(Tables.ratings(s, dir),
        markovT1(s, dir), k = 5)),

    // two-sided CUSUM drift alarms per event type (Page 1954) —
    // baseline-mean target over the first 10 days, the q179
    // recursion-parity discipline
    "q187_cusum_alarms" -> ((s, dir) =>
      graft.model.Forecast.cusum(Tables.events(s, dir), Seq("event_type"),
        unix_millis(col("ts").cast("timestamp")), bucketMs = 86400000L,
        baseline = 10, kappa = 3.0, h = 25.0)),

    // purged temporal split: a 7-day embargo after the cut keeps
    // trailing-window features from leaking into test labels
    "q185_purged_split" -> ((s, dir) =>
      graft.split.EdgeSplits.fixedTimestampPurged(
        Tables.ratings(s, dir), FixedTs, embargoMs = 7L * 86400000L)
        .groupBy("split").agg(count(lit(1)).as("n"),
          round(avg("rating"), 6).as("avg_rating"))),

    // group-aware k-fold: folds assigned at source granularity, so
    // same-source docs never straddle a fold boundary
    "q186_group_kfold" -> ((s, dir) =>
      graft.util.Sampling.groupKFold(T(s, dir, "documents"), "source", 4, 42L)
        .groupBy("fold").agg(count(lit(1)).as("n"),
          countDistinct("source").as("n_sources"))),

    // Hampel-filter outliers (median/MAD robust z) per event type —
    // exact fences from the grouped quantile selection, twice
    "q184_mad_outliers" -> ((s, dir) =>
      graft.util.GlobalPercentile.madOutliersByGroup(
        Tables.events(s, dir).select("event_type", "value"),
        Seq("event_type"), "value", k = 3.5, nBuckets = 64, sortThreshold = 500L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"),
          round(max("__med"), 4).as("med"),
          round(max("__mad"), 4).as("mad"))),

    // incremental quantile maintenance: the DDSketch-style pure-integer
    // log-bucket sketch (util/QuantileSketch) refreshed through two
    // delta batches — counts add per bucket, so refresh == from-scratch
    // exactly, which is what the DuckDB oracle recomputes; percentile
    // read is nearest-rank over the per-group bucket rollup
    "q189_incremental_quantiles" -> ((s, dir) => {
      import graft.util.QuantileSketch
      val li = T(s, dir, "lineitem").select(col("l_partkey"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"),
        expr("unix_millis(cast(l_shipdate as timestamp)) div 86400000").as("ship_day"))
      val grp = Seq("l_partkey")
      val base = li.filter(col("ship_day") < 9496)
      val d1 = li.filter(col("ship_day") >= 9496 && col("ship_day") < 9862)
      val d2 = li.filter(col("ship_day") >= 9862)
      val s0 = QuantileSketch.state(base, grp, "cents", s = 5)
      val s1 = QuantileSketch.refresh(s0, d1, grp, "cents", s = 5)
      val s2 = QuantileSketch.refresh(s1, d2, grp, "cents", s = 5)
      QuantileSketch.quantiles(s2, grp, Seq(0.5, 0.9, 0.99), s = 5)
        .groupBy("l_partkey")
        .agg(max(when(col("q") === 0.5, col("value"))).as("p50_cents"),
          max(when(col("q") === 0.9, col("value"))).as("p90_cents"),
          max(when(col("q") === 0.99, col("value"))).as("p99_cents"))
    }),

    // sketch-based winsorization: the ONE-PASS approximate clip (q180
    // is the exact recursive sibling) — bounds are bucket
    // representatives from the q189 sketch, deterministic integers
    "q193_sketch_winsorize" -> ((s, dir) => {
      val li = T(s, dir, "lineitem").select(col("l_partkey"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"))
      graft.util.QuantileSketch.winsorizeByGroup(li, Seq("l_partkey"),
        "cents", 0.05, 0.95, s = 5)
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n"), sum("cents_w").as("sum_w"),
          min("cents_w").as("min_w"), max("cents_w").as("max_w"))
    }),

    // one-pass Poisson bootstrap (Chamandy et al.): B=32 resampled
    // means of the per-flag price ride ONE aggregation — hash-derived
    // Poisson(1) weights from precomputed integer CDF thresholds,
    // exact-integer replica means, rank-based CI
    "q213_poisson_bootstrap" -> ((s, dir) => {
      val li = T(s, dir, "lineitem").select(col("l_returnflag"),
        col("l_orderkey"), col("l_linenumber"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"))
      // reps feeds BOTH join sides: checkpoint it eagerly or the whole
      // ×32 explode + md5 ladder subtree evaluates twice (guide §2.4;
      // the q189 duplicated-subtree lesson). groups×32 rows — tiny.
      val reps = graft.util.PoissonBootstrap.replicaMeans(li,
        Seq("l_returnflag"), "cents", Seq("l_orderkey", "l_linenumber"),
        b = 32, seed = 42L).localCheckpoint(true)
      reps.join(graft.util.PoissonBootstrap.ci(reps, Seq("l_returnflag"),
        loRank = 2), Seq("l_returnflag"))
    }),

    // JL random projection (Achlioptas ±1 coins, hash-derived): the
    // map-only dim-reduction front end for every ANN stage — the sign
    // matrix is re-derived from md5(i|j|seed) so the oracle rebuilds
    // it from (d, d', seed); integer micro-unit sums, zero exchanges
    "q207_random_projection" -> ((s, dir) =>
      graft.knn.RandomProjection.project(
        T(s, dir, "embeddings"), dProj = 8, seed = 42L)),

    // one-pass exact-integer Gram/covariance moments (the PCA front
    // end for PQ rotation): ONE typed Aggregator ships a single
    // [n | s | upper-tri G] long array per partition — d(d+1)/2 tidy
    // moment rows out, milli-quantized so the oracle replays exactly
    "q218_pca_gram" -> ((s, dir) =>
      graft.knn.Pca.gram(T(s, dir, "embeddings"))),

    // grid-cell DBSCAN in a 2-D JL projection (MR-DBSCAN shape):
    // 3^dim neighbor-cell candidate join — never all-pairs — core CC
    // labeled by min id, border -> smallest core-neighbor cluster,
    // exact integer geometry end to end
    "q219_dbscan_clusters" -> ((s, dir) =>
      graft.knn.Dbscan.clusterEmbeddings(T(s, dir, "embeddings"),
        dim = 2, eps = 150000L, minPts = 5, seed = 42L)),

    // Welch two-sample t over every variant pair: ONE moment
    // aggregation collapses the corpus, broadcast-sized pair join,
    // exact integer moments + a pinned float tail rounded once to e6
    "q221_welch_ttest" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_type"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
        .filter(col("cents").isNotNull)
      graft.util.AbTest.welch(ev, "event_type", "cents")
    }),

    // chi-square class-discriminative vocabulary (Yang & Pedersen):
    // exact integer 2x2 contingencies per (term, lang), one pinned
    // float chi2 rounded to e6, rank-based per-class top-k
    "q222_chi2_terms" -> ((s, dir) =>
      graft.text.Chi2.topTermsByClass(T(s, dir, "documents"), "lang",
        k = 10, minDf = 5L)),

    // hop-bounded weighted shortest paths (frontier Bellman–Ford,
    // improvement-leaf state — never re-materialized): min l_quantity
    // per parity edge as the weight, 4 smallest nodes as landmarks
    "q220_sssp_weighted" -> ((s, dir) => {
      val li = T(s, dir, "lineitem").filter(
        col("l_partkey") < 600 && col("l_suppkey") < 60)
      val e = li.select(
        when(col("l_orderkey") % 2 === 0, col("l_partkey") * 2)
          .otherwise(col("l_suppkey") * 2 + 1).as("s"),
        when(col("l_orderkey") % 2 === 0, col("l_suppkey") * 2 + 1)
          .otherwise(col("l_partkey") * 2).as("t"),
        col("l_quantity").cast("long").as("w"))
      val sources = e.select(col("s").cast("long").as("v"))
        .union(e.select(col("t").cast("long")))
        .distinct().orderBy("v").limit(4).collect().map(_.getLong(0)).toSeq
      if (sources.isEmpty)
        s.range(0).select(col("id").as("src"), col("id").as("node"),
          col("id").as("dist"))
      else graft.graph.Sssp.boundedDistances(e, "s", "t", "w", sources,
        maxHops = 6)
    }),

    // residual IVF-PQ (faiss IVFPQ proper): product codebooks encode
    // v − c(list), the recall lever; scoring decomposes into
    // dot(q,c) + residual LUT sums with an integer coarse×residual
    // cross table — exact-integer end to end
    "q192_ivfpq_residual_knn" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
        .select(col("vec_id").as("id"),
          expr("transform(embedding, x -> cast(x as double))").as("vec"))
      graft.knn.Pq.ivfPqTopK(e, "id", "vec", col("id") < 30,
        kc = 8, nProbe = 3, m = 4, ksub = 8, iters = 2, k = 5,
        excludeSelf = true)
    }),

    // EXACT containment join (AllPairs/PPJoin prefix filter, rarest-
    // first order): near-SUBSET duplication that Jaccard banding is
    // blind to — lossless by the pigeonhole bound, integer thresholds
    "q191_containment_dedup" -> ((s, dir) =>
      graft.text.Dedup.containmentJoin(T(s, dir, "documents"),
        shingleK = 3, tPerMille = 800L, minShingles = 5)),

    // IVF-ADC: coarse integer-k-means lists (partition-prunable at
    // cluster scale) restrict each query to nProbe lists; only those
    // candidates pay the PQ lookup sum — the faiss-style serving
    // composition, exact-integer end to end (residual-free variant)
    "q190_ivf_adc_knn" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
        .select(col("vec_id").as("id"),
          expr("transform(embedding, x -> cast(x as double))").as("vec"))
      graft.knn.Pq.ivfAdcTopK(e, "id", "vec", col("id") < 30,
        kc = 8, nProbe = 3, m = 4, ksub = 8, iters = 2, k = 5,
        excludeSelf = true)
    }),

    // product-quantization ANN (Jégou 2011): per-subspace integer
    // k-means codebooks over the q81 int8 codes, m-byte item codes,
    // ADC lookup-table scoring — the 16-32× 100-TB serving compressor;
    // exact-integer ADC sums make codebooks, codes AND scores
    // DuckDB-replayable (the q115/q183 recipe)
    "q188_pq_adc_knn" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
        .select(col("vec_id").as("id"),
          expr("transform(embedding, x -> cast(x as double))").as("vec"))
      graft.knn.Pq.adcTopK(e, "id", "vec", col("id") < 30,
        m = 4, ksub = 8, iters = 2, k = 5, excludeSelf = true)
    }),

    // int8-quantized cosine top-k: per-vector symmetric quantization
    // (scales cancel in cosine → exact-integer dots, order-free)
    "q183_quantized_knn" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
        .select(col("vec_id").as("id"),
          expr("transform(embedding, x -> cast(x as double))").as("vec"))
      graft.knn.Quantize.cosTopK(e.filter(col("id") < 30), e, 3, excludeSelf = true)
        .select(col("query_id"), col("item_id"), col("rank"),
          round(col("qcos"), 6).as("qcos_r"))
    }),

    // train/eval decontamination (GPT-3 C / FineWeb stage): 5-gram
    // overlap against the doc_id<20 "benchmark" slice, contaminated at
    // >= 3 shared distinct grams with any one eval doc
    "q182_decontamination" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      graft.text.Decontamination.flags(
        docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
        k = 5, minShared = 3L)
    }),

    // sketched table profile — the 100 TB ANALYZE: per-column HLL
    // distinct estimates (bounded register state, one Expand-shaped
    // scan) next to plain nonnull/min/max; integer columns so the
    // string extrema render identically cross-engine
    "q181_profile_sketched" -> ((s, dir) =>
      graft.util.Profile.profileSketched(T(s, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey"), b = 10, seed = 42L)),

    // winsorization at exact per-group p05/p95 (deterministic clip
    // bounds from the grouped quantile selection), rolled up to
    // clip-rate + clipped-sum stats per group
    "q180_winsorize" -> ((s, dir) => {
      val w = graft.util.GlobalPercentile.winsorizeByGroup(
        T(s, dir, "lineitem"), Seq("l_returnflag"), "l_extendedprice",
        loQ = 0.05, hiQ = 0.95, nBuckets = 64, sortThreshold = 500L)
      w.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_extendedprice") < col("l_extendedprice_lo"), 1L)
            .otherwise(0L)).as("n_clipped_lo"),
          sum(when(col("l_extendedprice") > col("l_extendedprice_hi"), 1L)
            .otherwise(0L)).as("n_clipped_hi"),
          round(max("l_extendedprice_lo"), 4).as("lo_bound"),
          round(max("l_extendedprice_hi"), 4).as("hi_bound"),
          round(sum("l_extendedprice_w"), 2).as("sum_w"))
    }),

    // Holt linear smoothing per event type over the dense daily count
    // series — level/trend/7-day forecast; the recursion is one
    // codegen'd aggregate HOF with the exact op sequence the DuckDB
    // recursive CTE replays (α=1/2, β=1/4, binary-exact)
    "q179_holt_forecast" -> ((s, dir) =>
      graft.model.Forecast.holtLinear(Tables.events(s, dir), Seq("event_type"),
        unix_millis(col("ts").cast("timestamp")), bucketMs = 86400000L,
        horizon = 7)),

    // Holt–Winters additive seasonal (q179's triple-exponential rung):
    // weekly period over daily buckets, textbook two-season init,
    // m-long rotating seasonal state inside one aggregate HOF —
    // replayed by a recursive CTE carrying the seasonal LIST
    "q214_holt_winters" -> ((s, dir) =>
      graft.model.Forecast.holtWinters(Tables.events(s, dir), Seq("event_type"),
        unix_millis(col("ts").cast("timestamp")), bucketMs = 86400000L,
        m = 7, horizon = 7)),

    // HyperLogLog distinct (Flajolet 2007) — the md5-portable,
    // exact-integer-state variant: registers and the scaled harmonic
    // sum are pure ints both engines compute identically; est_e6 is
    // the one float, derived from those ints
    "q177_hll_distinct" -> ((s, dir) =>
      graft.util.Sketches.hllEstimate(
        graft.util.Sketches.hllRegisters(
          T(s, dir, "lineitem"), Seq("l_orderkey"), b = 10, seed = 42L), b = 10)),

    // streaming distinct-count surface, batch form: per-(event_type ×
    // hour) unique-user HLL — register state ≤ 2^b per group forever;
    // StreamingDistinctSpec pins stream == batch registers under
    // trigger slicing and the JVM/SQL hash parity
    "q209_stream_distinct" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(
        concat(col("event_type"), lit("|"),
          expr("cast(unix_millis(ts) div 3600000 as string)")).as("g"),
        col("user_id").cast("string").as("k"))
      graft.stream.StreamingDistinct.estimates(
        graft.stream.StreamingDistinct.registersBatch(ev, "g", "k", b = 6, seed = 42L),
        b = 6)
    }),

    // Count-Min frequency estimates (Cormode-Muthukrishnan 2005) for
    // the low suppkeys — counters exact ints, est = min over depth
    "q178_cms_counts" -> ((s, dir) => {
      val li = T(s, dir, "lineitem")
      graft.util.Sketches.cmsEstimate(
        graft.util.Sketches.cmsCounters(li, Seq("l_suppkey"), depth = 4,
          width = 512, seed = 7L),
        li.filter(col("l_suppkey") <= 20).select("l_suppkey").distinct(),
        Seq("l_suppkey"), depth = 4, width = 512, seed = 7L)
    }),

    // streaming frequency surface, batch form: CMS counters +
    // overestimate-bounded per-event-type counts — StreamingCmsSpec
    // pins stream == batch counters under trigger slicing; completes
    // the streaming sketch family (q206 quantiles, q209 distinct)
    "q212_stream_cms" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.stream.StreamingCms.estimates(
        graft.stream.StreamingCms.countersBatch(ev, Seq("event_type"),
          depth = 4, width = 64, seed = 7L),
        ev.select("event_type").distinct(), Seq("event_type"),
        depth = 4, width = 64, seed = 7L)
    }),

    // item2vec (Barkan & Koenigstein 2016) on the bounded subgraph —
    // SGNS over per-user rating baskets, deterministic mean-pooled
    // user vectors, the q40 golden scheme (pin_order total-orders the
    // sentence list + threads=1)
    "q176_item2vec_recs" -> ((s, dir) =>
      graft.model.Item2Vec.recs(s,
        trainRatings(s, dir).filter(col("user_id") < 200),
        minRating = 4.0, dim = 16, window = 100, epochs = 3, lr = 0.025,
        negative = 5, seed = 42L, k = 5, pinOrder = true)),

    // composed streaming surface, batch form: sessionize → session-
    // count funnel (stage = min(ordinal, 3)) → half-life trending —
    // the stream form chains three fMGWS in ONE query (soak-pinned)
    "q175_session_funnel_trending" -> ((s, dir) =>
      graft.stream.SessionFunnelTrending.batch(Tables.events(s, dir),
        gapMs = 30 * 60000L, maxStage = 3, halfLifeMs = 21600000L,
        keep = 41, k = 3)),

    // the `triples: all` KGE TRAINING frame exactly as KgeRecommender
    // assembles it from the CLI loader's property-edge explosion
    // (KGraph.propertyEdges — multi-column, null/'' filtered):
    // rating triples ∪ (src_label, relation, dst_label)→(head, r, tail)
    "q174_kge_triples_all" -> ((s, dir) => {
      val r = Tables.ratings(s, dir)
      val items = T(s, dir, "part")
        .join(r.select(col("item_id").as("p_partkey")), Seq("p_partkey"), "left_semi")
      val p = graft.graph.KGraph.propertyEdges(items, "p_partkey", isUser = false,
        Seq("p_brand", "p_type")).get
      graft.graph.KGraph.ratingTriples(r).unionByName(
        p.select(col("src_label").as("head"), col("relation"), col("dst_label").as("tail")))
    }),

    // grouped EXACT quantile_cont: the q160 recursive width_bucket
    // selection generalized to (group, value) — breadth-wise rounds
    // across all groups' slices, one job per round; sortThreshold
    // forced low so the refinement recursion is what the oracle gates
    "q173_grouped_quantiles" -> ((s, dir) =>
      graft.util.GlobalPercentile.quantileContByGroup(
        T(s, dir, "lineitem"), Seq("l_returnflag", "l_linestatus"),
        "l_extendedprice", Seq(0.25, 0.5, 0.75, 0.9),
        nBuckets = 64, sortThreshold = 500L)),

    // order-2 Markov transitions (session-based higher-order baseline):
    // consecutive timeline triples, minSupport-pruned state space
    "q171_markov2_transitions" -> ((s, dir) => markovT2(s, dir)),

    // serve order-2 with order-1 backoff: last-two-items context, per
    // user; users whose order-2 context yields no unseen candidate
    // fall back to the first-order table (ord marks which served)
    "q172_markov2_recs" -> ((s, dir) =>
      graft.model.MarkovNextItem.recommendBackoffFrom(Tables.ratings(s, dir),
        markovT2(s, dir), markovT1(s, dir), k = 5)),

    // windowed PMI association scores (Church & Hanks; SGNS
    // factorizes shifted PMI) over the offset-aggregated q134 matrix
    "q156_pmi" -> ((s, dir) =>
      graft.text.CoOccurrence.pmi(T(s, dir, "documents"), "text",
        window = 3, minCount = 5L)),

    // k-truss backbone of the item projection: synchronous support
    // peeling, 8 fixed rounds (cascade depths probed 1/5/3 at the
    // three SFs; k=4 binds at the sf0.01 gate scale: -> 401 edges,
    // leaves the dense sf0.001 projection whole, empties sparse sf0.1)
    "q153_ktruss" -> ((s, dir) =>
      graft.graph.Truss.ktruss(
        coocTable(s, dir)
          .select(col("item_a").as("u"), col("item_b").as("v")),
        "u", "v", k = 4, iters = 8)
        .select(col("u").as("item_a"), col("v").as("item_b"), col("support"))),

    // multi-touch LINEAR attribution: every view/click within 6h of a
    // purchase shares its credit equally (exact 10⁶ div n) — the
    // (user, time-bin) equi-join form of the point-in-interval match
    "q154_linear_attribution" -> ((s, dir) =>
      graft.stream.Attribution.linearTouch(
        Tables.events(s, dir).withColumn("ts_ms", unix_millis(col("ts"))),
        convType = "purchase", touchTypes = Seq("view", "click"),
        lookbackMs = 21600000L, binWidthMs = 21600000L)),

    // time-decay multi-touch attribution: per-touch weight 10^6 div
    // 2^(age div 1h) (exact power-of-two buckets, the q149 trick),
    // normalized per conversion — recent touches dominate
    "q159_timedecay_attribution" -> ((s, dir) =>
      graft.stream.Attribution.timeDecayTouch(
        Tables.events(s, dir).withColumn("ts_ms", unix_millis(col("ts"))),
        convType = "purchase", touchTypes = Seq("view", "click"),
        lookbackMs = 21600000L, binWidthMs = 21600000L, halfLifeMs = 3600000L)),

    // exact global quantile_cont WITHOUT a global sort: recursive
    // width_bucket range refinement (distributed selection) — skinny
    // per-slice aggregates, nothing corpus-sized sorted or collected
    // (tight nBuckets/sortThreshold so the RECURSIVE path — not the
    // small-subset sort endgame — is what the oracle pins at test SFs)
    "q160_global_percentile" -> ((s, dir) =>
      graft.util.GlobalPercentile.quantileCont(
        T(s, dir, "lineitem"), "l_extendedprice", Seq(0.25, 0.5, 0.9, 0.99),
        nBuckets = 64, sortThreshold = 500L)),

    // streaming-quantiles serving path, batch form (the q163 scheme):
    // per-event-type value percentiles from the mergeable bucket
    // sketch the ingest-time flatMapGroupsWithState kernel maintains —
    // stream == batch spec-pinned under trigger slicing AND checkpoint
    // kill/resume (StreamingQuantilesSpec, CheckpointRecoverySpec)
    "q206_stream_quantiles" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_type"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
        .filter(col("cents").isNotNull)
      graft.util.QuantileSketch.quantiles(
          graft.stream.StreamingQuantiles.sketchBatch(ev, "event_type", "cents", 5),
          Seq("g"), Seq(0.5, 0.9, 0.99), 5)
        .groupBy(col("g").as("event_type"))
        .agg(max(when(col("q") === 0.5, col("value"))).as("p50_cents"),
          max(when(col("q") === 0.9, col("value"))).as("p90_cents"),
          max(when(col("q") === 0.99, col("value"))).as("p99_cents"))
    }),

    // streaming-trending serving path, batch form: per-(item, absolute
    // half-life bucket) counts with 41-bucket retention (the bounded
    // flatMapGroupsWithState state), then the exact integer decay
    // rollup — stream == batch spec-pinned under trigger slicing
    "q163_trending_buckets" -> ((s, dir) =>
      graft.stream.StreamingTrending.trendingFromBuckets(
        graft.stream.StreamingTrending.bucketCountsBatch(
          Tables.ratings(s, dir).select("item_id", "ts"), 2592000000L, 41), 20)),

    // BPR matrix factorization (Rendle 2009) on the bounded subgraph —
    // the q41 golden scheme: pin_order full-batch logistic-pairwise
    // SGD, bit-exact across sessions; recs via dot+bias broadcast
    // serving with the k' = k + maxRated unseen guarantee
    "q162_bpr_recs" -> ((s, dir) =>
      graft.model.BprMf.recs(s,
        trainRatings(s, dir).filter(col("user_id") < 200),
        minRating = 4.0, dim = 16, epochs = 3, lr = 0.05, reg = 0.01,
        seed = 42L, k = 5, pinOrder = true)),

    // exact per-row global ECDF of the extended price — the q109 rank
    // decomposition as a public primitive: bucket-partitioned windows
    // only, never a corpus-wide single-partition sort
    "q167_global_ecdf" -> ((s, dir) =>
      graft.util.GlobalRank.ecdf(
        T(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice"),
        "l_extendedprice", Seq(col("l_orderkey"), col("l_linenumber")))
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "rn", "pct_e6")),

    // leakage-safe recency feature: per-event decayed count of the
    // user's strictly-prior events — per-(user,bucket) rollup + a
    // bounded 41-offset join, never a per-row history scan
    "q166_recency_feature" -> ((s, dir) =>
      graft.prep.TemporalFeatures.decayedPriorCount(
        Tables.ratings(s, dir).select("user_id", "item_id", "ts"),
        halfLifeMs = 2592000000L)),

    // market-basket frequent triples: a-priori — every sub-pair of a
    // candidate triple must itself be frequent, so the basket join is
    // pair-pruned at each step (never a raw C(cap,3) explode)
    // consumes the SHARED rel/cooc materializations (identical
    // parameterization by construction: relCapped(4.0, 50),
    // cooc(rel, 2) == the memo chain) instead of rebuilding both
    "q165_frequent_triples" -> ((s, dir) =>
      graft.model.Baskets.frequentTriplesFrom(relCapped(s, dir),
        coocTable(s, dir), minSupport = 2)),

    // explicit-feedback ALS on the bounded subgraph — exact per-row
    // normal equations (no learning rate), pin_order bit-exact, the
    // q41/q162 golden scheme; serving shares the BPR dot-product path
    "q164_als_recs" -> ((s, dir) =>
      graft.model.Als.recs(s,
        trainRatings(s, dir).filter(col("user_id") < 200),
        dim = 8, iters = 3, lambda = 0.1, seed = 42L, k = 5, pinOrder = true)),

    // Efraimidis-Spirakis weighted reservoir: exactly 500 orders,
    // P(selected) ∝ o_totalprice — the md5-derived A-ES key quantized
    // to e-12 ints so the DuckDB replay is an exact-integer order;
    // bounded-heap combine, no global sort (plan spec-pinned)
    "q169_weighted_sample" -> ((s, dir) =>
      graft.util.Sampling.weightedReservoir(
        T(s, dir, "orders"), n = 500, weightCol = "o_totalprice",
        keyCols = Seq("o_orderkey"), seed = 42L)
        .select("o_orderkey", "o_totalprice", "rank")),

    // stratified A-ES: an independent 50-row weighted reservoir per
    // order priority (TopK heap combine — low-cardinality strata never
    // funnel the corpus through one task's window sort)
    "q170_weighted_sample_stratified" -> ((s, dir) =>
      graft.util.Sampling.weightedReservoirByGroup(
        T(s, dir, "orders"), n = 50, weightCol = "o_totalprice",
        strataCols = Seq("o_orderpriority"), keyCols = Seq("o_orderkey"), seed = 7L)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rank")),

    // implicit-feedback ALS (Hu-Koren-Volinsky 2008) on the bounded
    // subgraph — the q164 golden scheme with confidence c = 1 + α·r
    // and the per-half-sweep YᵀY gram trick; the regime matching the
    // reference's binarize + relevance workflow
    "q168_als_implicit_recs" -> ((s, dir) =>
      graft.model.AlsImplicit.recs(s,
        trainRatings(s, dir).filter(col("user_id") < 200),
        dim = 8, iters = 3, lambda = 0.1, alpha = 40.0, seed = 42L, k = 5,
        pinOrder = true)),

    // FULL truss decomposition of the minCooc=3 item projection:
    // bounded peel-to-empty (kMax=8 > probed max trussness 7,
    // innerIters=16 > probed max cascade 13) — exact max-k per edge
    // its minCooc=3 projection derives from the shared minCooc=2
    // materialization: cooc(rel, 3) == cooc(rel, 2).filter(cooc >= 3)
    // by definition (same groupBy, stricter support prune)
    "q161_trussness" -> ((s, dir) =>
      graft.graph.Truss.trussness(
        coocTable(s, dir).filter(col("cooc") >= 3)
          .select(col("item_a").as("u"), col("item_b").as("v")),
        "u", "v", kMax = 8, innerIters = 16)
        .select(col("u").as("item_a"), col("v").as("item_b"), col("trussness"))),

    // rating prediction: Koren's regularized baseline (µ + b_u + b_i)
    // in exact e6 ints on the q142 fold frame, per-user MSE
    "q152_baseline_mse" -> ((s, dir) => {
      val folded = folded5(s, dir)
      graft.model.BiasedBaseline.mseByUser(
        folded.filter(col("fold") =!= 1).select("user_id", "item_id", "rating"),
        folded.filter(col("fold") === 1).select("user_id", "item_id", "rating"),
        lambda1 = 10L, lambda2 = 25L)
    }),

    // user-based CF (the itemKNN transpose): double-capped relevant
    // set (per-user AND per-item — the viral-item pair bound),
    // user-user integer Jaccard, neighbor-vote scoring
    "q151_userknn_recs" -> ((s, dir) =>
      graft.model.UserKnn.recs(Tables.ratings(s, dir),
        minRating = 4.0, capPerUser = 50, capPerItem = 50,
        minCooc = 2, kNbrs = 10, kRecs = 5)),

    // recency-decayed popularity in exact power-of-two integer
    // weights (10⁶ div 2^(age div 30d)), top-20 trending items
    "q149_trending" -> ((s, dir) =>
      graft.model.Trending.trending(
        Tables.ratings(s, dir).select("item_id", "ts"),
        halfLifeMs = 2592000000L, k = 20)),

    // time-windowed co-visitation ("bought this, soon bought that"):
    // capped pair join with a 90-day window predicate, support >= 2,
    // symmetric top-5 lists on the bounded heap
    "q150_covisitation" -> ((s, dir) =>
      graft.model.ItemKnn.covisitation(Tables.ratings(s, dir),
        minRating = 4.0, cap = 50, windowMs = 7776000000L, minCooc = 2, k = 5)),

    // seeded uniform negative sampling (the BPR training-set step):
    // constant-width hash draws against a dense item index — no
    // users×items cross join, no partitioning-dependent rand()
    "q148_negative_sampling" -> ((s, dir) =>
      graft.model.NegativeSampling.uniformNegatives(
        Tables.ratings(s, dir), k = 4, oversample = 3, seed = 11L)),

    // leakage-safe split: test/train buckets drawn on the NEAR-DUP
    // CLUSTER id (q37's components), so duplicate documents can never
    // straddle the split (Lee et al. 2021 contamination discipline)
    "q147_leakage_safe_split" -> ((s, dir) =>
      Dedup.leakageSafeSplit(dedupCc(s, dir), seed = 7L, nBuckets = 5, testBucket = 0)),

    // serendipity@5 on the q142 k-fold frame: relevant AND absent
    // from the popularity primitive's top-5 (exact n·10⁶ div 5)
    "q146_serendipity" -> ((s, dir) => {
      val folded = folded5(s, dir)
      val train = folded.filter(col("fold") =!= 1).select("user_id", "item_id", "rating")
      val test = folded.filter(col("fold") === 1).select("user_id", "item_id", "rating")
      val recs = foldTrainKnnRecs(s, dir).select("user_id", "item_id", "rank")
      Metrics.serendipityAtK(recs,
        PopularityRecommender.recommend(train, 5).select("user_id", "item_id"),
        test, 5, 4.0)
    }),

    // full k-core decomposition of the item projection: 20 rounds of
    // the h-index fixpoint iteration (= exact coreness on every test
    // graph, probed 12/12/17 rounds to convergence), value-rollup H
    "q145_coreness" -> ((s, dir) =>
      graft.graph.Coreness.run(
        coocTable(s, dir)
          .select(col("item_a").as("u"), col("item_b").as("v")),
        "u", "v", iters = 20)
        .select(col("node").as("item_id"), col("coreness"))),

    // bigram-LM document scoring with add-one smoothing (the rung
    // above q55's unigram on the CCNet/KenLM quality ladder); narrow
    // zip pairing + the same estimate-and-score shuffle shape
    "q144_bigram_logprob" -> ((s, dir) =>
      TextOps.bigramLogProb(T(s, dir, "documents"))),

    // CCNet perplexity bucketing (Wenzek 2020): per-language fluency
    // TERCILES of the q144 bigram LM — rank-based (ntile on round-6
    // avg_logp DESC, doc_id), so no float threshold crosses engines
    "q215_perplexity_buckets" -> ((s, dir) =>
      TextOps.perplexityBuckets(T(s, dir, "documents"))),

    // TF-IDF cosine retrieval (sklearn smooth idf): top-10 docs per
    // fixed keyword query — e3-integer idf makes weights/dots/norms
    // exact integers; one float cosine, ranked on the rounded value
    "q217_tfidf_retrieval" -> ((s, dir) =>
      graft.text.Keywords.tfidfRetrieve(T(s, dir, "documents"),
        Seq(("q1", "hash join order"), ("q2", "window scan merge"),
          ("q3", "spark stream batch")), k = 10)),

    // resource-allocation link prediction on the item projection:
    // common neighbors weighted by 10⁶ div deg(center) — the
    // exact-integer Adamic-Adar stand-in (Zhou et al. 2009)
    "q143_resource_allocation" -> ((s, dir) =>
      graft.graph.LinkPrediction.resourceAllocation(
        coocTable(s, dir)
          .select(col("item_a").as("u"), col("item_b").as("v")),
        minCn = 2, maxCenterDeg = 40)
        .select(col("a").as("item_a"), col("b").as("item_b"),
          col("cn"), col("ra_e6"))),

    // the q129 funnel under a 24h conversion horizon (ClickHouse
    // windowFunnel's `window`): steps 2..k must land within 24h of
    // the first view
    "q140_funnel_horizon" -> ((s, dir) =>
      graft.stream.Funnel.windowFunnel(
        Tables.events(s, dir).withColumn("ts_ms", unix_millis(col("ts"))),
        "user_id", "event_type", "ts_ms", Seq("view", "click", "purchase"),
        horizonMs = Some(86400000L))
        .select(col("user_id"), col("step0_ms").as("view_ms"),
          col("step1_ms").as("click_ms"), col("step2_ms").as("purchase_ms"),
          col("stage"))),

    // last-touch attribution: each purchase credited to the latest
    // preceding view/click within a 6h lookback (as-of kernel — one
    // exchange, zero join nodes)
    "q141_attribution" -> ((s, dir) =>
      graft.stream.Attribution.lastTouch(
        Tables.events(s, dir).withColumn("ts_ms", unix_millis(col("ts"))),
        convType = "purchase", touchTypes = Seq("view", "click"),
        lookbackMs = 21600000L)),

    // a full offline recommender experiment in ONE query — the
    // reference's core loop (framework/experiment.py:31-113): k-fold
    // user split -> train itemKNN on folds 2..5 -> AP@5 + nDCG@5 per
    // user against fold 1 (composition of q08 + q123 + q11 + q12)
    "q142_kfold_knn_eval" -> ((s, dir) => {
      val folded = folded5(s, dir)
      val train = folded.filter(col("fold") =!= 1).select("user_id", "item_id", "rating")
      val test = folded.filter(col("fold") === 1).select("user_id", "item_id", "rating")
      val recs = foldTrainKnnRecs(s, dir).select("user_id", "item_id", "rank")
      // one-pass metrics: the trained-model subtree is consumed ONCE
      // (two independent metric trees would recompute the whole chain
      // — Spark reuses no exchanges across them; measured 0 reused/31)
      Metrics.perUserAtK(recs, test, 5, 4.0)
        .select(col("user_id"), round(col("ap"), 6).as("ap"),
          round(col("ndcg"), 6).as("ndcg"))
    }),

    // hourly rate-burst flags per event type vs the trailing-24h
    // baseline (exact scaled integers; window on the skinny rollup)
    "q135_rate_bursts" -> ((s, dir) =>
      graft.stream.Bursts.hourlyBursts(
        Tables.events(s, dir).withColumn("ts_ms", unix_millis(col("ts"))),
        "event_type", "ts_ms", baseline = 24, thresholdE4 = 30000L)),

    // skip-gram context matrix: ordered token pairs within 3
    // positions, tagged by offset (q127 is the window=1 slice)
    "q134_cooccurrence" -> ((s, dir) =>
      graft.text.CoOccurrence.matrix(T(s, dir, "documents"), "text",
        window = 3, minCount = 5)
        .select(col("left").as("w_left"), col("right").as("w_right"),
          col("offset").as("dist"), col("n"))),

    // triangle count + clustering coefficient on the item
    // co-interaction projection (degree-ordered orientation: every
    // triangle counted once at its smallest vertex)
    "q124_triangles" -> ((s, dir) =>
      graft.graph.Triangles.localTriangles(
        coocTable(s, dir)
          .select(col("item_a").as("u"), col("item_b").as("v")))
        .select(col("node").as("item_id"), col("deg"), col("tri"), col("cc_e4")))
  )

  /** q96's fixed merge table == Bpe.train(docs_sf0.01, 8) (BpeProbe). */
  private val BpeMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"),
    ("s", "t"), ("m", "er"), ("a", "t"), ("l", "u"))

  // ---- oracles --------------------------------------------------------

  /** DuckDB CTE chain replaying [[graft.text.Dedup.minhashLsh]] exactly:
    * shingles → md5 → 48-bit x (digit-weighted hex parse, validated ==
    * Spark's conv(_,16,10)) → affine minhashes from the SAME
    * [[graft.text.Dedup.MinhashA]] constants → banded self-join →
    * count-based exact Jaccard. Ends with CTEs `sh` (doc_id, s), `cand`
    * (doc_a, doc_b) and `cnt`/`inter`; callers append the final select. */
  private def minhashCtes(nBands: Int, rowsPerBand: Int,
                          src: String = "documents", lead: String = "WITH "): String = {
    import graft.text.Dedup.{MinhashA, MinhashP}
    val nHash = nBands * rowsPerBand
    val abValues = (0 until nHash).map(j => s"($j, ${MinhashA(j)})").mkString(", ")
    val keyCols = (0 until rowsPerBand)
      .map(r => s"MIN(m) FILTER (WHERE j % $rowsPerBand = $r) AS h${r + 1}")
      .mkString(", ")
    val keyEq = (1 to rowsPerBand).map(r => s"a.h$r = c.h$r").mkString(" AND ")
    s"""${lead}docs AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM $src),
       |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
       |       FROM docs, UNNEST(generate_series(1, len(w) - 2)) AS t(i) WHERE len(w) >= 3),
       |mh AS (SELECT doc_id, md5(s) AS h FROM sh),
       |xh AS (SELECT doc_id, CAST(SUM((strpos('0123456789abcdef', h[i]) - 1)
       |         * CAST(pow(16, 12 - i) AS BIGINT)) AS BIGINT) AS x
       |       FROM mh, UNNEST(generate_series(1, 12)) AS ti(i) GROUP BY doc_id, h),
       |mins AS (SELECT doc_id, ab.j, MIN((ab.a * x + ab.j) % $MinhashP) AS m
       |         FROM xh CROSS JOIN (VALUES $abValues) AS ab(j, a) GROUP BY 1, 2),
       |sig AS (SELECT doc_id, j // $rowsPerBand AS b, $keyCols
       |        FROM mins GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
       |         FROM sig a JOIN sig c ON a.b = c.b AND $keyEq AND a.doc_id < c.doc_id),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT p.doc_a, p.doc_b, COUNT(*) AS ni
       |          FROM cand p JOIN sh x ON x.doc_id = p.doc_a
       |          JOIN sh y ON y.doc_id = p.doc_b AND y.s = x.s GROUP BY 1, 2)""".stripMargin
  }

  /** DuckDB replay of [[graft.util.PoissonBootstrap]]: the identical
    * integer CDF-threshold ladder (single Scala source of truth), the
    * overflow-free integer mean decomposition, rank-based CI. */
  private def poissonBootstrapSql(b: Int, loRank: Int): String = {
    val kCase = graft.util.PoissonBootstrap.poissonCaseSql("h")
    s"""WITH x AS (SELECT l_returnflag AS g, l_orderkey, l_linenumber,
       |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem),
       |rep AS (SELECT g, l_orderkey, l_linenumber, cents, r
       |        FROM x, UNNEST(generate_series(0, ${b - 1})) AS t(r)),
       |hh AS (SELECT g, r, cents,
       |    ('0x'||substr(md5(CAST(l_orderkey AS VARCHAR)||'|'||CAST(l_linenumber AS VARCHAR)
       |      ||'|'||CAST(r AS VARCHAR)||'|42'),1,13))::UBIGINT AS h
       |  FROM rep),
       |kk AS (SELECT g, r, cents, $kCase AS k FROM hh),
       |m AS (SELECT g, r, CAST(SUM(k) AS BIGINT) AS n_eff,
       |    CAST(CASE WHEN SUM(k) > 0 THEN
       |      (SUM(k*cents) // SUM(k)) * 1000000 + ((SUM(k*cents) % SUM(k)) * 1000000) // SUM(k)
       |    END AS BIGINT) AS mean_e6
       |  FROM kk GROUP BY 1, 2),
       |rk AS (SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY mean_e6 ASC, r ASC) AS ra,
       |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY mean_e6 DESC, r DESC) AS rd
       |  FROM m WHERE mean_e6 IS NOT NULL),
       |ci AS (SELECT g, COUNT(*) AS b_eff,
       |    CAST(MAX(CASE WHEN ra = $loRank THEN mean_e6 END) AS BIGINT) AS ci_lo_e6,
       |    CAST(MAX(CASE WHEN rd = $loRank THEN mean_e6 END) AS BIGINT) AS ci_hi_e6
       |  FROM rk GROUP BY 1)
       |SELECT m.g AS l_returnflag, m.r, m.n_eff, m.mean_e6,
       |       ci.b_eff, ci.ci_lo_e6, ci.ci_hi_e6
       |FROM m JOIN ci USING (g)""".stripMargin
  }

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

  /** DuckDB replay of [[graft.knn.SemDeDup.semDedup]]: the q81 int8
    * codes, `iters` unrolled Lloyd rounds in exact integer arithmetic
    * (long-format (vec_id, d, q) joins for centroid math, floor-of-mean
    * centroid update, argmin ties to the smallest centroid index), then
    * the within-cluster long-domain cosine test
    * `10^4*dot^2 >= tau2 * |a|^2 * |b|^2`. */
  private def semDedupSql(k: Int, iters: Int, tau2: Long): String = {
    def asg(n: Int, cent: String) =
      s"""asg$n AS (
         |  SELECT vec_id, c FROM (
         |    SELECT vec_id, c, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn
         |    FROM (SELECT cd.vec_id, ct.c, SUM((cd.q - ct.v)*(cd.q - ct.v)) AS d2
         |          FROM cd JOIN $cent ct USING (d) GROUP BY 1, 2))
         |  WHERE rn = 1)""".stripMargin
    def upd(n: Int, prev: String) =
      s"""cent${n + 1} AS (
         |  SELECT p.c, p.d, COALESCE(s.v, p.v) AS v
         |  FROM $prev p LEFT JOIN (
         |    SELECT a.c, cd.d, CAST(FLOOR(CAST(SUM(cd.q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
         |    FROM asg$n a JOIN cd USING (vec_id) GROUP BY 1, 2) s
         |  ON p.c = s.c AND p.d = s.d)""".stripMargin
    val rounds = (0 until iters)
      .map(i => asg(i, s"cent$i") + ",\n" + upd(i, s"cent$i")).mkString(",\n")
    s"""WITH codes AS (
       |  SELECT vec_id, list_transform(v, x -> CASE WHEN scale = 0 THEN 0
       |    ELSE CAST(GREATEST(-127, LEAST(127, ROUND(x / scale, 0))) AS INT) END) AS qv
       |  FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127 AS scale
       |        FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |              FROM embeddings))),
       |cd AS (SELECT vec_id, CAST(u.i - 1 AS BIGINT) AS d, CAST(qv[u.i] AS BIGINT) AS q
       |       FROM codes, UNNEST(range(1, len(qv) + 1)) AS u(i)),
       |ids AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c
       |        FROM codes ORDER BY vec_id LIMIT $k),
       |cent0 AS (SELECT ids.c, cd.d, cd.q AS v FROM ids JOIN cd USING (vec_id)),
       |$rounds,
       |${asg(iters, s"cent$iters")},
       |norms AS (SELECT vec_id, SUM(q*q) AS n2 FROM cd GROUP BY 1),
       |v AS (SELECT f.vec_id, f.c, n.n2, codes.qv FROM asg$iters f
       |      JOIN norms n USING (vec_id) JOIN codes USING (vec_id)),
       |dups AS (SELECT DISTINCT b.vec_id AS dup_id FROM v a JOIN v b
       |         ON a.c = b.c AND a.vec_id < b.vec_id
       |         WHERE CAST(list_dot_product(a.qv, b.qv) AS BIGINT) > 0
       |           AND 10000 * CAST(list_dot_product(a.qv, b.qv) AS BIGINT)
       |                     * CAST(list_dot_product(a.qv, b.qv) AS BIGINT)
       |               >= $tau2 * a.n2 * b.n2)
       |SELECT f.vec_id, f.c AS cluster,
       |  CASE WHEN du.dup_id IS NULL THEN 0 ELSE 1 END AS is_semdup
       |FROM asg$iters f LEFT JOIN dups du ON f.vec_id = du.dup_id""".stripMargin
  }

  /** DuckDB replay of [[graft.knn.Pq.adcTopK]]: the q115 Lloyd chain
    * with a `sub` key threaded through (per-subspace codebooks), then
    * integer ADC partial-dot lookup sums and the q183-style IEEE
    * cosine rank. Everything up to the final division is exact Long. */
  private def pqAdcSql(m: Int, ksub: Int, iters: Int, k: Int): String = {
    def asg(n: Int, cent: String) =
      s"""asg$n AS (
         |  SELECT vec_id, sub, c FROM (
         |    SELECT vec_id, sub, c,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, c) AS rn
         |    FROM (SELECT s.vec_id, s.sub, ct.c,
         |                 CAST(SUM((s.q - ct.v)*(s.q - ct.v)) AS BIGINT) AS d2
         |          FROM sv s JOIN $cent ct ON s.sub = ct.sub AND s.d = ct.d
         |          GROUP BY 1, 2, 3))
         |  WHERE rn = 1)""".stripMargin
    def upd(n: Int, prev: String) =
      s"""cent${n + 1} AS (
         |  SELECT p.sub, p.c, p.d, COALESCE(x.v, p.v) AS v
         |  FROM $prev p LEFT JOIN (
         |    SELECT a.sub, a.c, s.d,
         |           CAST(FLOOR(CAST(SUM(s.q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
         |    FROM asg$n a JOIN sv s ON a.vec_id = s.vec_id AND a.sub = s.sub
         |    GROUP BY 1, 2, 3) x
         |  ON p.sub = x.sub AND p.c = x.c AND p.d = x.d)""".stripMargin
    val rounds = (0 until iters)
      .map(i => asg(i, s"cent$i") + ",\n" + upd(i, s"cent$i")).mkString(",\n")
    s"""WITH codes AS (
       |  SELECT vec_id, list_transform(v, x -> CASE WHEN scale = 0 THEN 0
       |    ELSE CAST(GREATEST(-127, LEAST(127, ROUND(x / scale, 0))) AS INT) END) AS qv
       |  FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127 AS scale
       |        FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |              FROM embeddings))),
       |sv AS (SELECT vec_id, CAST((u.i - 1) // (len(qv) // $m) AS INT) AS sub,
       |              CAST((u.i - 1) % (len(qv) // $m) AS BIGINT) AS d,
       |              CAST(qv[u.i] AS BIGINT) AS q
       |       FROM codes, UNNEST(range(1, len(qv) + 1)) AS u(i)),
       |ids AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c
       |        FROM codes ORDER BY vec_id LIMIT $ksub),
       |cent0 AS (SELECT sv.sub, ids.c, sv.d, sv.q AS v FROM ids JOIN sv USING (vec_id)),
       |$rounds,
       |${asg(iters, s"cent$iters")},
       |cbn2 AS (SELECT sub, c, CAST(SUM(v*v) AS BIGINT) AS n2 FROM cent$iters GROUP BY 1, 2),
       |xn AS (SELECT cd.vec_id, CAST(SUM(b.n2) AS BIGINT) AS xn2
       |       FROM asg$iters cd JOIN cbn2 b ON cd.sub = b.sub AND cd.c = b.c GROUP BY 1),
       |qn AS (SELECT vec_id, CAST(SUM(q*q) AS BIGINT) AS qn2
       |       FROM sv WHERE vec_id < 30 GROUP BY 1),
       |lut AS (SELECT s.vec_id AS query_id, s.sub, ct.c,
       |               CAST(SUM(s.q * ct.v) AS BIGINT) AS pdot
       |        FROM sv s JOIN cent$iters ct ON s.sub = ct.sub AND s.d = ct.d
       |        WHERE s.vec_id < 30 GROUP BY 1, 2, 3),
       |adcs AS (SELECT l.query_id, cd.vec_id AS item_id, CAST(SUM(l.pdot) AS BIGINT) AS adc
       |         FROM asg$iters cd JOIN lut l ON cd.sub = l.sub AND cd.c = l.c
       |         GROUP BY 1, 2),
       |sc AS (SELECT a.query_id, a.item_id, a.adc,
       |         CASE WHEN q.qn2 = 0 OR x.xn2 = 0 THEN -2.0
       |              ELSE CAST(a.adc AS DOUBLE) /
       |                   (sqrt(CAST(q.qn2 AS DOUBLE)) * sqrt(CAST(x.xn2 AS DOUBLE))) END AS score
       |       FROM adcs a JOIN qn q ON a.query_id = q.vec_id
       |       JOIN xn x ON a.item_id = x.vec_id
       |       WHERE a.query_id <> a.item_id),
       |r AS (SELECT query_id, item_id, adc, score,
       |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, item_id) AS rank
       |      FROM sc)
       |SELECT query_id, item_id, adc, rank, ROUND(score, 6) AS score_r
       |FROM r WHERE rank <= $k""".stripMargin
  }

  /** DuckDB replay of [[graft.knn.Pq.ivfAdcTopK]]: the q188 chain plus
    * a SECOND Lloyd chain at m = 1 (the coarse quantizer, CTE prefix
    * `c`), nProbe nearest-list selection per query by integer L2, and
    * the ADC sum restricted to probed-list candidates. */
  private def ivfAdcSql(kc: Int, nProbe: Int, m: Int, ksub: Int,
                        iters: Int, k: Int): String = {
    def asg(p: String, sv: String, n: Int, cent: String) =
      s"""${p}asg$n AS (
         |  SELECT vec_id, sub, c FROM (
         |    SELECT vec_id, sub, c,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, c) AS rn
         |    FROM (SELECT s.vec_id, s.sub, ct.c,
         |                 CAST(SUM((s.q - ct.v)*(s.q - ct.v)) AS BIGINT) AS d2
         |          FROM $sv s JOIN $cent ct ON s.sub = ct.sub AND s.d = ct.d
         |          GROUP BY 1, 2, 3))
         |  WHERE rn = 1)""".stripMargin
    def upd(p: String, sv: String, n: Int, prev: String) =
      s"""${p}cent${n + 1} AS (
         |  SELECT pr.sub, pr.c, pr.d, COALESCE(x.v, pr.v) AS v
         |  FROM $prev pr LEFT JOIN (
         |    SELECT a.sub, a.c, s.d,
         |           CAST(FLOOR(CAST(SUM(s.q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
         |    FROM ${p}asg$n a JOIN $sv s ON a.vec_id = s.vec_id AND a.sub = s.sub
         |    GROUP BY 1, 2, 3) x
         |  ON pr.sub = x.sub AND pr.c = x.c AND pr.d = x.d)""".stripMargin
    def chain(p: String, sv: String, kk: Int): String = {
      val rounds = (0 until iters)
        .map(i => asg(p, sv, i, s"${p}cent$i") + ",\n" + upd(p, sv, i, s"${p}cent$i"))
        .mkString(",\n")
      s"""${p}ids AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c
         |        FROM codes ORDER BY vec_id LIMIT $kk),
         |${p}cent0 AS (SELECT s.sub, i.c, s.d, s.q AS v
         |              FROM ${p}ids i JOIN $sv s USING (vec_id)),
         |$rounds,
         |${asg(p, sv, iters, s"${p}cent$iters")}""".stripMargin
    }
    s"""WITH codes AS (
       |  SELECT vec_id, list_transform(v, x -> CASE WHEN scale = 0 THEN 0
       |    ELSE CAST(GREATEST(-127, LEAST(127, ROUND(x / scale, 0))) AS INT) END) AS qv
       |  FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127 AS scale
       |        FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |              FROM embeddings))),
       |sv AS (SELECT vec_id, CAST((u.i - 1) // (len(qv) // $m) AS INT) AS sub,
       |              CAST((u.i - 1) % (len(qv) // $m) AS BIGINT) AS d,
       |              CAST(qv[u.i] AS BIGINT) AS q
       |       FROM codes, UNNEST(range(1, len(qv) + 1)) AS u(i)),
       |svf AS (SELECT vec_id, 0 AS sub, CAST(u.i - 1 AS BIGINT) AS d,
       |               CAST(qv[u.i] AS BIGINT) AS q
       |        FROM codes, UNNEST(range(1, len(qv) + 1)) AS u(i)),
       |${chain("c", "svf", kc)},
       |${chain("p", "sv", ksub)},
       |probes AS (
       |  SELECT query_id, ccode FROM (
       |    SELECT s.vec_id AS query_id, ct.c AS ccode,
       |           ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
       |             CAST(SUM((s.q - ct.v)*(s.q - ct.v)) AS BIGINT), ct.c) AS rn
       |    FROM svf s JOIN ccent$iters ct ON s.d = ct.d
       |    WHERE s.vec_id < 30 GROUP BY s.vec_id, ct.c)
       |  WHERE rn <= $nProbe),
       |cands AS (SELECT pr.query_id, ca.vec_id AS item_id
       |          FROM casg$iters ca JOIN probes pr ON ca.c = pr.ccode),
       |cbn2 AS (SELECT sub, c, CAST(SUM(v*v) AS BIGINT) AS n2 FROM pcent$iters GROUP BY 1, 2),
       |xn AS (SELECT cd.vec_id, CAST(SUM(b.n2) AS BIGINT) AS xn2
       |       FROM pasg$iters cd JOIN cbn2 b ON cd.sub = b.sub AND cd.c = b.c GROUP BY 1),
       |qn AS (SELECT vec_id, CAST(SUM(q*q) AS BIGINT) AS qn2
       |       FROM sv WHERE vec_id < 30 GROUP BY 1),
       |lut AS (SELECT s.vec_id AS query_id, s.sub, ct.c,
       |               CAST(SUM(s.q * ct.v) AS BIGINT) AS pdot
       |        FROM sv s JOIN pcent$iters ct ON s.sub = ct.sub AND s.d = ct.d
       |        WHERE s.vec_id < 30 GROUP BY 1, 2, 3),
       |adcs AS (SELECT l.query_id, cd.vec_id AS item_id, CAST(SUM(l.pdot) AS BIGINT) AS adc
       |         FROM cands cn
       |         JOIN pasg$iters cd ON cd.vec_id = cn.item_id
       |         JOIN lut l ON l.query_id = cn.query_id
       |                   AND l.sub = cd.sub AND l.c = cd.c
       |         GROUP BY 1, 2),
       |sc AS (SELECT a.query_id, a.item_id, a.adc,
       |         CASE WHEN q.qn2 = 0 OR x.xn2 = 0 THEN -2.0
       |              ELSE CAST(a.adc AS DOUBLE) /
       |                   (sqrt(CAST(q.qn2 AS DOUBLE)) * sqrt(CAST(x.xn2 AS DOUBLE))) END AS score
       |       FROM adcs a JOIN qn q ON a.query_id = q.vec_id
       |       JOIN xn x ON a.item_id = x.vec_id
       |       WHERE a.query_id <> a.item_id),
       |r AS (SELECT query_id, item_id, adc, score,
       |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, item_id) AS rank
       |      FROM sc)
       |SELECT query_id, item_id, adc, rank, ROUND(score, 6) AS score_r
       |FROM r WHERE rank <= $k""".stripMargin
  }

  /** DuckDB replay of [[graft.knn.Pq.ivfPqTopK]] (residual IVF-PQ):
    * the q190 coarse chain, a residual long-format table (q − coarse
    * centroid), a residual Lloyd chain, the kc·m·ksub coarse×residual
    * cross-dot table, and the decomposed exact-integer scoring
    * adc = dot(q,c) + Σ LUT, ‖x̂‖² = ‖c‖² + 2·Σcross + Σ‖rcent‖². */
  private def ivfPqSql(kc: Int, nProbe: Int, m: Int, ksub: Int,
                       iters: Int, k: Int): String = {
    def asg(p: String, sv: String, n: Int, cent: String) =
      s"""${p}asg$n AS (
         |  SELECT vec_id, sub, c FROM (
         |    SELECT vec_id, sub, c,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, c) AS rn
         |    FROM (SELECT s.vec_id, s.sub, ct.c,
         |                 CAST(SUM((s.q - ct.v)*(s.q - ct.v)) AS BIGINT) AS d2
         |          FROM $sv s JOIN $cent ct ON s.sub = ct.sub AND s.d = ct.d
         |          GROUP BY 1, 2, 3))
         |  WHERE rn = 1)""".stripMargin
    def upd(p: String, sv: String, n: Int, prev: String) =
      s"""${p}cent${n + 1} AS (
         |  SELECT pr.sub, pr.c, pr.d, COALESCE(x.v, pr.v) AS v
         |  FROM $prev pr LEFT JOIN (
         |    SELECT a.sub, a.c, s.d,
         |           CAST(FLOOR(CAST(SUM(s.q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
         |    FROM ${p}asg$n a JOIN $sv s ON a.vec_id = s.vec_id AND a.sub = s.sub
         |    GROUP BY 1, 2, 3) x
         |  ON pr.sub = x.sub AND pr.c = x.c AND pr.d = x.d)""".stripMargin
    def chain(p: String, sv: String, kk: Int): String = {
      val rounds = (0 until iters)
        .map(i => asg(p, sv, i, s"${p}cent$i") + ",\n" + upd(p, sv, i, s"${p}cent$i"))
        .mkString(",\n")
      s"""${p}ids AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c
         |        FROM codes ORDER BY vec_id LIMIT $kk),
         |${p}cent0 AS (SELECT s.sub, i.c, s.d, s.q AS v
         |              FROM ${p}ids i JOIN $sv s USING (vec_id)),
         |$rounds,
         |${asg(p, sv, iters, s"${p}cent$iters")}""".stripMargin
    }
    s"""WITH codes AS (
       |  SELECT vec_id, list_transform(v, x -> CASE WHEN scale = 0 THEN 0
       |    ELSE CAST(GREATEST(-127, LEAST(127, ROUND(x / scale, 0))) AS INT) END) AS qv
       |  FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127 AS scale
       |        FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |              FROM embeddings))),
       |sv AS (SELECT vec_id, CAST((u.i - 1) // (len(qv) // $m) AS INT) AS sub,
       |              CAST((u.i - 1) % (len(qv) // $m) AS BIGINT) AS d,
       |              CAST(qv[u.i] AS BIGINT) AS q
       |       FROM codes, UNNEST(range(1, len(qv) + 1)) AS u(i)),
       |svf AS (SELECT vec_id, 0 AS sub, CAST(u.i - 1 AS BIGINT) AS d,
       |               CAST(qv[u.i] AS BIGINT) AS q
       |        FROM codes, UNNEST(range(1, len(qv) + 1)) AS u(i)),
       |dims AS (SELECT MAX(d) + 1 AS dd FROM svf),
       |${chain("c", "svf", kc)},
       |ccn2 AS (SELECT c, CAST(SUM(v*v) AS BIGINT) AS cn2 FROM ccent$iters GROUP BY 1),
       |rsv AS (SELECT s.vec_id,
       |               CAST(s.d // (dims.dd // $m) AS INT) AS sub,
       |               s.d % (dims.dd // $m) AS d,
       |               s.q - ct.v AS q
       |        FROM svf s
       |        JOIN casg$iters a ON a.vec_id = s.vec_id
       |        JOIN ccent$iters ct ON ct.c = a.c AND ct.d = s.d
       |        CROSS JOIN dims),
       |${chain("r", "rsv", ksub)},
       |rcbn2 AS (SELECT sub, c, CAST(SUM(v*v) AS BIGINT) AS n2 FROM rcent$iters GROUP BY 1, 2),
       |xc AS (SELECT ct.c AS ccode,
       |              CAST(ct.d // (dims.dd // $m) AS INT) AS sub, rc.c AS code,
       |              CAST(SUM(ct.v * rc.v) AS BIGINT) AS xdot
       |       FROM ccent$iters ct
       |       CROSS JOIN dims
       |       JOIN rcent$iters rc
       |         ON rc.sub = CAST(ct.d // (dims.dd // $m) AS INT)
       |        AND rc.d = ct.d % (dims.dd // $m)
       |       GROUP BY 1, 2, 3),
       |xn AS (SELECT cd.vec_id,
       |              CAST(MIN(cn.cn2) + 2 * SUM(x.xdot) + SUM(rb.n2) AS BIGINT) AS xn2
       |       FROM rasg$iters cd
       |       JOIN casg$iters ca ON ca.vec_id = cd.vec_id
       |       JOIN ccn2 cn ON cn.c = ca.c
       |       JOIN xc x ON x.ccode = ca.c AND x.sub = cd.sub AND x.code = cd.c
       |       JOIN rcbn2 rb ON rb.sub = cd.sub AND rb.c = cd.c
       |       GROUP BY 1),
       |probes AS (
       |  SELECT query_id, ccode, qcdot FROM (
       |    SELECT s.vec_id AS query_id, ct.c AS ccode,
       |           CAST(SUM(s.q * ct.v) AS BIGINT) AS qcdot,
       |           ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
       |             CAST(SUM((s.q - ct.v)*(s.q - ct.v)) AS BIGINT), ct.c) AS rn
       |    FROM svf s JOIN ccent$iters ct ON s.d = ct.d
       |    WHERE s.vec_id < 30 GROUP BY s.vec_id, ct.c)
       |  WHERE rn <= $nProbe),
       |qn AS (SELECT vec_id, CAST(SUM(q*q) AS BIGINT) AS qn2
       |       FROM sv WHERE vec_id < 30 GROUP BY 1),
       |lut AS (SELECT s.vec_id AS query_id, s.sub, ct.c,
       |               CAST(SUM(s.q * ct.v) AS BIGINT) AS pdot
       |        FROM sv s JOIN rcent$iters ct ON s.sub = ct.sub AND s.d = ct.d
       |        WHERE s.vec_id < 30 GROUP BY 1, 2, 3),
       |adcs AS (SELECT pr.query_id, cd.vec_id AS item_id,
       |                CAST(MIN(pr.qcdot) + SUM(l.pdot) AS BIGINT) AS adc
       |         FROM casg$iters ca
       |         JOIN probes pr ON ca.c = pr.ccode
       |         JOIN rasg$iters cd ON cd.vec_id = ca.vec_id
       |         JOIN lut l ON l.query_id = pr.query_id
       |                   AND l.sub = cd.sub AND l.c = cd.c
       |         GROUP BY 1, 2),
       |sc AS (SELECT a.query_id, a.item_id, a.adc,
       |         CASE WHEN q.qn2 = 0 OR x.xn2 <= 0 THEN -2.0
       |              ELSE CAST(a.adc AS DOUBLE) /
       |                   (sqrt(CAST(q.qn2 AS DOUBLE)) * sqrt(CAST(x.xn2 AS DOUBLE))) END AS score
       |       FROM adcs a JOIN qn q ON a.query_id = q.vec_id
       |       JOIN xn x ON a.item_id = x.vec_id
       |       WHERE a.query_id <> a.item_id),
       |r AS (SELECT query_id, item_id, adc, score,
       |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, item_id) AS rank
       |      FROM sc)
       |SELECT query_id, item_id, adc, rank, ROUND(score, 6) AS score_r
       |FROM r WHERE rank <= $k""".stripMargin
  }

  /** DuckDB replay of [[graft.util.QuantileSketch.winsorizeByGroup]]:
    * the q189 bucket chain at qs (0.05, 0.95), representative bounds
    * joined back, NULL-guarded integer clip, exact-long aggregate. */
  /** Shared q200/q202 entity-resolution setup — ONE definition of the
    * catalog, the dirtied copy, the blocking keys, and the field spec,
    * so the top-1 (q200) and one-to-one (q202) forms can never drift.
    * Blocking: (first name token, brand) and (brand, size) — both
    * composite so block sizes stay bounded as the table grows (a bare
    * first-token key has CONSTANT cardinality on this vocabulary:
    * blocks grow linearly with the table and candidates quadratically
    * — measured 116 s at sf0.1 before the tightening, ~15 s after). */
  /** The q200/q202/q204 catalog pair: master records and a
    * deterministically dirtied copy (last name word dropped, ids
    * offset by 1e6). */
  private def erCatalog(s: org.apache.spark.sql.SparkSession,
                        dir: String): (DataFrame, DataFrame) = {
    val p = T(s, dir, "part")
    (p.select(col("p_partkey").as("left_id"), col("p_name").as("l_name"),
      col("p_brand").as("l_brand"), col("p_size").as("l_size")),
      p.select((col("p_partkey") + lit(1000000L)).as("right_id"),
        regexp_replace(col("p_name"), " [^ ]+$", "").as("r_name"),
        col("p_brand").as("r_brand"), col("p_size").as("r_size")))
  }

  /** The production blocking keys shared by q200/q202/q204.
    * compositeKey, not bare concat_ws: concat_ws SKIPS null args, so
    * a NULL name/brand/size would silently degrade to a partial key
    * and pair rows the oracle's NULL-rejecting AND-equality join
    * rejects; compositeKey is NULL-propagating and collision-free. */
  private def erBlockKeys: Seq[(org.apache.spark.sql.Column, org.apache.spark.sql.Column)] = {
    import graft.text.EntityResolution.compositeKey
    Seq(
      (compositeKey(element_at(split(col("l_name"), " "), 1), col("l_brand")),
        compositeKey(element_at(split(col("r_name"), " "), 1), col("r_brand"))),
      (compositeKey(col("l_brand"), col("l_size")),
        compositeKey(col("r_brand"), col("r_size"))))
  }

  /** The q201/q211/q216 directed graph (parity-chosen part↔supplier
    * edges over the bounded lineitem subset) plus the 4 smallest node
    * ids as BFS landmarks — ONE definition: q211 and q216 (and their
    * oracles via [[bfsWalkSqlPrefix]]) must never drift apart. */
  private def bfsGraphAndSources(s: org.apache.spark.sql.SparkSession,
                                 dir: String): (DataFrame, Seq[Long]) = {
    val li = T(s, dir, "lineitem").filter(
      col("l_partkey") < 600 && col("l_quantity") < 3 && col("l_suppkey") < 60)
    val e = li.select(
      when(col("l_orderkey") % 2 === 0, col("l_partkey") * 2)
        .otherwise(col("l_suppkey") * 2 + 1).as("s"),
      when(col("l_orderkey") % 2 === 0, col("l_suppkey") * 2 + 1)
        .otherwise(col("l_partkey") * 2).as("t"))
    val sources = e.select(col("s").cast("long").as("v"))
      .union(e.select(col("t").cast("long")))
      .distinct().orderBy("v").limit(4).collect().map(_.getLong(0)).toSeq
    (e, sources)
  }

  /** Shared oracle CTEs for q211/q216: edges, landmark selection, and
    * the depth-bounded recursive frontier; callers append the final
    * select (and any extra CTE with a leading ","). */
  private val bfsWalkSqlPrefix: String =
    """WITH RECURSIVE e AS (
      |  SELECT DISTINCT
      |    CASE WHEN l_orderkey % 2 = 0 THEN l_partkey * 2 ELSE l_suppkey * 2 + 1 END AS s,
      |    CASE WHEN l_orderkey % 2 = 0 THEN l_suppkey * 2 + 1 ELSE l_partkey * 2 END AS t
      |  FROM lineitem WHERE l_partkey < 600 AND l_quantity < 3 AND l_suppkey < 60),
      |nodes AS (SELECT DISTINCT v FROM (SELECT s AS v FROM e UNION ALL SELECT t FROM e)),
      |srcs AS (SELECT v FROM nodes ORDER BY v LIMIT 4),
      |walk(src, node, dist) AS (
      |  SELECT v, v, 0 FROM srcs
      |  UNION
      |  SELECT w.src, e.t, w.dist + 1 FROM walk w JOIN e ON e.s = w.node
      |  WHERE w.dist < 10)""".stripMargin

  // q200 and q202 consume the IDENTICAL blocking + scoring chain
  // (2.3M candidate pairs at sf0.1) and only diverge at the
  // assignment step — one materialization serves both (r14; each
  // previously rebuilt the full chain)
  private val erScoredMemo =
    scala.collection.concurrent.TrieMap.empty[(Int, String), DataFrame]
  private def erScored(s: SparkSession, dir: String): DataFrame =
    memoDf(erScoredMemo, s, dir) {
      import graft.text.EntityResolution._
      val (l, r) = erCatalog(s, dir)
      val fields = Seq(
        Field("name", "l_name", "r_name", TokenJaccardSim, 3L),
        Field("brand", "l_brand", "r_brand", ExactSim, 1L),
        Field("size", "l_size", "r_size", AbsDiffSim(5L), 1L))
      scoredPairs(l, r, "left_id", "right_id", erBlockKeys, fields,
        minScore = 3000L)
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

  private def sketchWinsorizeSql(s: Int): String = {
    val cap = 1L << s
    def posIdx(v: String) =
      s"""(CASE WHEN $v < $cap THEN $v
         |  ELSE CAST(length(bin($v)) - 1 - $s AS BIGINT) * $cap
         |       + ($v >> (length(bin($v)) - 1 - $s)) END)""".stripMargin
    def posRep(i: String) =
      s"""(CASE WHEN $i < ${2 * cap} THEN $i
         |  ELSE ((($i % $cap) + ${cap + 1}) << CAST($i // $cap - 1 AS INT)) - 1 END)""".stripMargin
    s"""WITH v AS (SELECT l_partkey, CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
       |           FROM lineitem),
       |nn AS (SELECT l_partkey, cents FROM v WHERE cents IS NOT NULL),
       |b AS (SELECT l_partkey,
       |        CASE WHEN cents >= 0 THEN ${posIdx("cents")}
       |             ELSE -1 - ${posIdx("(- cents)")} END AS qb
       |      FROM nn),
       |st AS (SELECT l_partkey, qb, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
       |tot AS (SELECT l_partkey, SUM(cnt) AS n FROM st GROUP BY 1),
       |cum AS (SELECT l_partkey, qb,
       |          SUM(cnt) OVER (PARTITION BY l_partkey ORDER BY qb) AS cum FROM st),
       |rk AS (SELECT l_partkey, q, CAST(FLOOR(q * (n - 1)) AS BIGINT) + 1 AS rk
       |       FROM tot CROSS JOIN (VALUES (0.05), (0.95)) t(q)),
       |sel AS (SELECT r.l_partkey, r.q, MIN(c.qb) AS qb
       |        FROM rk r JOIN cum c ON c.l_partkey = r.l_partkey AND c.cum >= r.rk
       |        GROUP BY 1, 2),
       |bounds AS (SELECT l_partkey,
       |    MAX(CASE WHEN q = 0.05 THEN val END) AS lo,
       |    MAX(CASE WHEN q = 0.95 THEN val END) AS hi
       |  FROM (SELECT l_partkey, q,
       |          CASE WHEN qb >= 0 THEN ${posRep("qb")}
       |               ELSE - ${posRep("(-1 - qb)")} END AS val
       |        FROM sel) GROUP BY 1)
       |SELECT v.l_partkey, COUNT(*) AS n,
       |  CAST(SUM(LEAST(GREATEST(v.cents, b2.lo), b2.hi)) AS BIGINT) AS sum_w,
       |  MIN(LEAST(GREATEST(v.cents, b2.lo), b2.hi)) AS min_w,
       |  MAX(LEAST(GREATEST(v.cents, b2.lo), b2.hi)) AS max_w
       |FROM v LEFT JOIN bounds b2 ON v.l_partkey = b2.l_partkey
       |GROUP BY 1""".stripMargin
  }

  /** DuckDB from-scratch recompute of [[graft.util.QuantileSketch]]
    * (refresh == scratch is the sketch's algebra, so one full-table
    * replay checks every refresh step): the pure-integer log bucketing
    * via length(bin(v)) and shifts, cumulative rollup, nearest-rank
    * selection, representative recovery. */
  private def quantileSketchSql(s: Int,
      srcSql: String = "SELECT l_partkey, CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem WHERE l_extendedprice IS NOT NULL",
      grp: String = "l_partkey"): String = {
    val cap = 1L << s
    def posIdx(v: String) =
      s"""(CASE WHEN $v < $cap THEN $v
         |  ELSE CAST(length(bin($v)) - 1 - $s AS BIGINT) * $cap
         |       + ($v >> (length(bin($v)) - 1 - $s)) END)""".stripMargin
    def posRep(i: String) =
      s"""(CASE WHEN $i < ${2 * cap} THEN $i
         |  ELSE ((($i % $cap) + ${cap + 1}) << CAST($i // $cap - 1 AS INT)) - 1 END)""".stripMargin
    s"""WITH v AS ($srcSql),
       |b AS (SELECT $grp,
       |        CASE WHEN cents >= 0 THEN ${posIdx("cents")}
       |             ELSE -1 - ${posIdx("(- cents)")} END AS qb
       |      FROM v),
       |st AS (SELECT $grp, qb, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
       |tot AS (SELECT $grp, SUM(cnt) AS n FROM st GROUP BY 1),
       |cum AS (SELECT $grp, qb,
       |          SUM(cnt) OVER (PARTITION BY $grp ORDER BY qb) AS cum FROM st),
       |rk AS (SELECT $grp, q, CAST(FLOOR(q * (n - 1)) AS BIGINT) + 1 AS rk
       |       FROM tot CROSS JOIN (VALUES (0.5), (0.9), (0.99)) t(q)),
       |sel AS (SELECT r.$grp, r.q, MIN(c.qb) AS qb
       |        FROM rk r JOIN cum c ON c.$grp = r.$grp AND c.cum >= r.rk
       |        GROUP BY 1, 2),
       |rv AS (SELECT $grp, q,
       |         CASE WHEN qb >= 0 THEN ${posRep("qb")}
       |              ELSE - ${posRep("(-1 - qb)")} END AS value
       |       FROM sel)
       |SELECT $grp,
       |  MAX(CASE WHEN q = 0.5 THEN value END) AS p50_cents,
       |  MAX(CASE WHEN q = 0.9 THEN value END) AS p90_cents,
       |  MAX(CASE WHEN q = 0.99 THEN value END) AS p99_cents
       |FROM rv GROUP BY 1""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    // KMV set algebra: k smallest distinct md5-52 hashes per side are
    // deterministic, so the whole synopsis + every estimator replays
    // relationally (union synopsis via ORDER BY LIMIT, membership via
    // EXISTS semi-joins, the one double expression in matched
    // left-assoc order)
    "q196_kmv_set_diff" ->
      """WITH src AS (SELECT o_custkey, EXTRACT(year FROM o_orderdate) AS y FROM orders),
        |ha AS (SELECT DISTINCT ('0x'||substr(md5(CAST(o_custkey AS VARCHAR)||'|42'),1,13))::UBIGINT AS h
        |       FROM src WHERE y = 1996),
        |hb AS (SELECT DISTINCT ('0x'||substr(md5(CAST(o_custkey AS VARCHAR)||'|42'),1,13))::UBIGINT AS h
        |       FROM src WHERE y = 1997),
        |ka AS (SELECT h FROM ha ORDER BY h LIMIT 512),
        |kb AS (SELECT h FROM hb ORDER BY h LIMIT 512),
        |ku AS (SELECT h FROM (SELECT h FROM ha UNION SELECT h FROM hb) ORDER BY h LIMIT 512),
        |stats AS (SELECT
        |    (SELECT COUNT(*) FROM ka) AS n_a, (SELECT MAX(h) FROM ka) AS hk_a,
        |    (SELECT COUNT(*) FROM kb) AS n_b, (SELECT MAX(h) FROM kb) AS hk_b,
        |    (SELECT COUNT(*) FROM ku) AS n_u, (SELECT MAX(h) FROM ku) AS hk_u,
        |    (SELECT COUNT(*) FROM ku u
        |     WHERE EXISTS(SELECT 1 FROM ka WHERE ka.h = u.h)
        |       AND EXISTS(SELECT 1 FROM kb WHERE kb.h = u.h)) AS ki,
        |    (SELECT COUNT(*) FROM ku u
        |     WHERE EXISTS(SELECT 1 FROM ka WHERE ka.h = u.h)
        |       AND NOT EXISTS(SELECT 1 FROM kb WHERE kb.h = u.h)) AS kd),
        |e AS (SELECT *,
        |    CASE WHEN n_a < 512 THEN CAST(n_a AS DOUBLE) * 1e6
        |         ELSE 511e0 * 4503599627370496e0 / CAST(hk_a AS DOUBLE) * 1e6 END AS ea,
        |    CASE WHEN n_b < 512 THEN CAST(n_b AS DOUBLE) * 1e6
        |         ELSE 511e0 * 4503599627370496e0 / CAST(hk_b AS DOUBLE) * 1e6 END AS eb,
        |    CASE WHEN n_u < 512 THEN CAST(n_u AS DOUBLE) * 1e6
        |         ELSE 511e0 * 4503599627370496e0 / CAST(hk_u AS DOUBLE) * 1e6 END AS eu
        |  FROM stats)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(n_u AS BIGINT) AS n_u,
        |  CAST(round(ea) AS BIGINT) AS est_a_e6,
        |  CAST(round(eb) AS BIGINT) AS est_b_e6,
        |  CAST(round(eu) AS BIGINT) AS est_union_e6,
        |  CAST(ki AS BIGINT) AS k_inter,
        |  CASE WHEN n_u > 0
        |       THEN CAST(round(CAST(ki AS DOUBLE) / CAST(n_u AS DOUBLE) * eu) AS BIGINT)
        |       ELSE 0 END AS est_inter_e6,
        |  CAST(kd AS BIGINT) AS k_diff,
        |  CASE WHEN n_u > 0
        |       THEN CAST(round(CAST(kd AS DOUBLE) / CAST(n_u AS DOUBLE) * eu) AS BIGINT)
        |       ELSE 0 END AS est_diff_e6
        |FROM e""".stripMargin,

    // SCC: recursive reachability closure, mutual pairs, min member
    "q201_scc" ->
      """WITH RECURSIVE e AS (
        |  SELECT DISTINCT
        |    CASE WHEN l_orderkey % 2 = 0 THEN l_partkey * 2 ELSE l_suppkey * 2 + 1 END AS s,
        |    CASE WHEN l_orderkey % 2 = 0 THEN l_suppkey * 2 + 1 ELSE l_partkey * 2 END AS t
        |  FROM lineitem WHERE l_partkey < 600 AND l_quantity < 3 AND l_suppkey < 60),
        |reach(s, t) AS (SELECT s, t FROM e
        |  UNION SELECT r.s, e.t FROM reach r JOIN e ON r.t = e.s),
        |nodes AS (SELECT DISTINCT s AS v FROM e UNION SELECT DISTINCT t FROM e),
        |mutual AS (SELECT a.s AS v, a.t AS u FROM reach a JOIN reach b ON a.s = b.t AND a.t = b.s)
        |SELECT n.v AS node, LEAST(n.v, COALESCE(MIN(m.u), n.v)) AS scc_id
        |FROM nodes n LEFT JOIN mutual m ON m.v = n.v GROUP BY n.v""".stripMargin,

    // BFS: same edge CTE as q201, depth-bounded recursive frontier,
    // min hop per (src, node)
    "q211_bfs_hops" -> (bfsWalkSqlPrefix +
      """
        |SELECT src, node, CAST(MIN(dist) AS INT) AS dist
        |FROM walk GROUP BY 1, 2""".stripMargin),

    // landmark closeness: the q211 walk + node-keyed integer rollup
    "q216_closeness_centrality" -> (bfsWalkSqlPrefix +
      """,
        |d AS (SELECT src, node, MIN(dist) AS dist FROM walk GROUP BY 1, 2)
        |SELECT node, COUNT(*) AS n_landmarks,
        |  CAST(SUM(dist) AS BIGINT) AS sum_dist,
        |  CAST(CASE WHEN SUM(dist) > 0 THEN (1000000 * COUNT(*)) // SUM(dist)
        |       ELSE 0 END AS BIGINT) AS closeness_e6
        |FROM d GROUP BY 1""".stripMargin),

    // Welch t: same moment table, same pinned float tree (one division
    // per exact ratio, one add, one sqrt), e6-rounded once
    "q221_welch_ttest" ->
      """WITH m AS (SELECT event_type AS g, COUNT(*) AS n,
        |    CAST(SUM(cents) AS BIGINT) AS s,
        |    CAST(SUM(cents * cents) AS BIGINT) AS ss
        |  FROM (SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
        |        FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL)
        |  GROUP BY 1 HAVING COUNT(*) >= 2)
        |SELECT a.g AS g1, b.g AS g2, a.n AS n1, b.n AS n2,
        |  a.s AS sum1, b.s AS sum2,
        |  CASE WHEN (CAST(a.n AS HUGEINT) * a.ss - CAST(a.s AS HUGEINT) * a.s) > 0
        |         OR (CAST(b.n AS HUGEINT) * b.ss - CAST(b.s AS HUGEINT) * b.s) > 0 THEN
        |    CAST(ROUND(((a.s / a.n) - (b.s / b.n)) / sqrt(
        |      (CAST(a.n AS HUGEINT) * a.ss - CAST(a.s AS HUGEINT) * a.s)
        |        / (CAST(a.n AS HUGEINT) * a.n * (a.n - 1))
        |      + (CAST(b.n AS HUGEINT) * b.ss - CAST(b.s AS HUGEINT) * b.s)
        |        / (CAST(b.n AS HUGEINT) * b.n * (b.n - 1))) * 1e6) AS BIGINT)
        |  END AS t_e6,
        |  CASE WHEN (CAST(a.n AS HUGEINT) * a.ss - CAST(a.s AS HUGEINT) * a.s) > 0
        |         OR (CAST(b.n AS HUGEINT) * b.ss - CAST(b.s AS HUGEINT) * b.s) > 0 THEN
        |    CAST(ROUND((
        |      ((CAST(a.n AS HUGEINT) * a.ss - CAST(a.s AS HUGEINT) * a.s)
        |         / (CAST(a.n AS HUGEINT) * a.n * (a.n - 1))
        |       + (CAST(b.n AS HUGEINT) * b.ss - CAST(b.s AS HUGEINT) * b.s)
        |         / (CAST(b.n AS HUGEINT) * b.n * (b.n - 1)))
        |      * ((CAST(a.n AS HUGEINT) * a.ss - CAST(a.s AS HUGEINT) * a.s)
        |         / (CAST(a.n AS HUGEINT) * a.n * (a.n - 1))
        |       + (CAST(b.n AS HUGEINT) * b.ss - CAST(b.s AS HUGEINT) * b.s)
        |         / (CAST(b.n AS HUGEINT) * b.n * (b.n - 1)))
        |    ) / (
        |      ((CAST(a.n AS HUGEINT) * a.ss - CAST(a.s AS HUGEINT) * a.s)
        |         / (CAST(a.n AS HUGEINT) * a.n * (a.n - 1)))
        |      * ((CAST(a.n AS HUGEINT) * a.ss - CAST(a.s AS HUGEINT) * a.s)
        |         / (CAST(a.n AS HUGEINT) * a.n * (a.n - 1))) / (a.n - 1)
        |      + ((CAST(b.n AS HUGEINT) * b.ss - CAST(b.s AS HUGEINT) * b.s)
        |         / (CAST(b.n AS HUGEINT) * b.n * (b.n - 1)))
        |      * ((CAST(b.n AS HUGEINT) * b.ss - CAST(b.s AS HUGEINT) * b.s)
        |         / (CAST(b.n AS HUGEINT) * b.n * (b.n - 1))) / (b.n - 1)
        |    ) * 1e6) AS BIGINT)
        |  END AS df_e6
        |FROM m a JOIN m b ON a.g < b.g""".stripMargin,

    // chi2 vocabulary: distinct-token contingencies, pinned float
    // chi2 = N(ad-bc)^2 / (T(N-T)C(N-C)), rank on the e6 integer
    "q222_chi2_terms" ->
      """WITH base AS (SELECT doc_id, lang, text FROM documents
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
        |FROM sc QUALIFY rk <= 10""".stripMargin,

    // weighted SSSP: min-weight edge collapse, hop-carrying recursive
    // walk (the hop bound is the SEMANTICS), min dist per (src, node)
    "q220_sssp_weighted" ->
      """WITH RECURSIVE e AS (SELECT
        |    CASE WHEN l_orderkey % 2 = 0 THEN l_partkey * 2 ELSE l_suppkey * 2 + 1 END AS s,
        |    CASE WHEN l_orderkey % 2 = 0 THEN l_suppkey * 2 + 1 ELSE l_partkey * 2 END AS t,
        |    MIN(CAST(l_quantity AS BIGINT)) AS w
        |  FROM lineitem WHERE l_partkey < 600 AND l_suppkey < 60
        |  GROUP BY 1, 2),
        |nodes AS (SELECT DISTINCT v FROM (SELECT s AS v FROM e UNION ALL SELECT t FROM e)),
        |srcs AS (SELECT v FROM nodes ORDER BY v LIMIT 4),
        |walk(src, node, dist, hop) AS (
        |  SELECT v, v, CAST(0 AS BIGINT), 0 FROM srcs
        |  UNION
        |  SELECT w.src, e.t, w.dist + e.w, w.hop + 1 FROM walk w JOIN e ON e.s = w.node
        |  WHERE w.hop < 6)
        |SELECT src, node, MIN(dist) AS dist FROM walk GROUP BY 1, 2""".stripMargin,

    // entity resolution: blocking joins + list-algebra token Jaccard +
    // integer falloff, top-1 by (score desc, right_id)
    "q200_entity_resolution" -> (erScoringSql +
      """,
        |fin AS (SELECT left_id, right_id, sim_name, sim_brand, sim_size,
        |    3 * sim_name + 1 * sim_brand + 1 * sim_size AS score FROM scored
        |  WHERE 3 * sim_name + 1 * sim_brand + 1 * sim_size >= 3000)
        |SELECT left_id, right_id, CAST(sim_name AS BIGINT) AS sim_name,
        |  CAST(sim_brand AS BIGINT) AS sim_brand, CAST(sim_size AS BIGINT) AS sim_size,
        |  CAST(score AS BIGINT) AS score
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY left_id
        |                                   ORDER BY score DESC, right_id ASC) AS rk FROM fin)
        |WHERE rk = 1""".stripMargin),

    "q202_er_unique_assign" -> erUniqueSql(rounds = 8),

    // blocking advisor: per-key block rollups joined across sides,
    // exact integer reduction/completeness arithmetic (HUGEINT //)
    "q204_blocking_stats" ->
      """WITH l AS MATERIALIZED (SELECT p_partkey AS left_id, string_split(p_name, ' ')[1] AS tok,
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
        |FROM rows, n, nt""".stripMargin,

    // corr matrix: exact HUGEINT moments, the one float per pair in
    // matched expression order
    "q199_corr_matrix" ->
      """WITH f AS (SELECT CAST(round(l_quantity) AS BIGINT) AS qty,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
        |    CAST(round(l_discount * 1000) AS BIGINT) AS disc_pm,
        |    CAST(round(l_tax * 1000) AS BIGINT) AS tax_pm
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |    AND l_discount IS NOT NULL AND l_tax IS NOT NULL),
        |m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |    SUM(CAST(qty AS HUGEINT)) AS s_qty,
        |    SUM(CAST(qty AS HUGEINT) * CAST(qty AS HUGEINT)) AS q_qty,
        |    SUM(CAST(price_c AS HUGEINT)) AS s_price_c,
        |    SUM(CAST(price_c AS HUGEINT) * CAST(price_c AS HUGEINT)) AS q_price_c,
        |    SUM(CAST(disc_pm AS HUGEINT)) AS s_disc_pm,
        |    SUM(CAST(disc_pm AS HUGEINT) * CAST(disc_pm AS HUGEINT)) AS q_disc_pm,
        |    SUM(CAST(tax_pm AS HUGEINT)) AS s_tax_pm,
        |    SUM(CAST(tax_pm AS HUGEINT) * CAST(tax_pm AS HUGEINT)) AS q_tax_pm,
        |    SUM(CAST(qty AS HUGEINT) * CAST(price_c AS HUGEINT)) AS p_qty_price_c,
        |    SUM(CAST(qty AS HUGEINT) * CAST(disc_pm AS HUGEINT)) AS p_qty_disc_pm,
        |    SUM(CAST(qty AS HUGEINT) * CAST(tax_pm AS HUGEINT)) AS p_qty_tax_pm,
        |    SUM(CAST(price_c AS HUGEINT) * CAST(disc_pm AS HUGEINT)) AS p_price_c_disc_pm,
        |    SUM(CAST(price_c AS HUGEINT) * CAST(tax_pm AS HUGEINT)) AS p_price_c_tax_pm,
        |    SUM(CAST(disc_pm AS HUGEINT) * CAST(tax_pm AS HUGEINT)) AS p_disc_pm_tax_pm
        |  FROM f),
        |pairs AS (
        |  SELECT 'qty' AS col_a, 'price_c' AS col_b, n,
        |    n*p_qty_price_c - s_qty*s_price_c AS cov,
        |    n*q_qty - s_qty*s_qty AS va, n*q_price_c - s_price_c*s_price_c AS vb FROM m
        |  UNION ALL SELECT 'qty', 'disc_pm', n, n*p_qty_disc_pm - s_qty*s_disc_pm,
        |    n*q_qty - s_qty*s_qty, n*q_disc_pm - s_disc_pm*s_disc_pm FROM m
        |  UNION ALL SELECT 'qty', 'tax_pm', n, n*p_qty_tax_pm - s_qty*s_tax_pm,
        |    n*q_qty - s_qty*s_qty, n*q_tax_pm - s_tax_pm*s_tax_pm FROM m
        |  UNION ALL SELECT 'price_c', 'disc_pm', n, n*p_price_c_disc_pm - s_price_c*s_disc_pm,
        |    n*q_price_c - s_price_c*s_price_c, n*q_disc_pm - s_disc_pm*s_disc_pm FROM m
        |  UNION ALL SELECT 'price_c', 'tax_pm', n, n*p_price_c_tax_pm - s_price_c*s_tax_pm,
        |    n*q_price_c - s_price_c*s_price_c, n*q_tax_pm - s_tax_pm*s_tax_pm FROM m
        |  UNION ALL SELECT 'disc_pm', 'tax_pm', n, n*p_disc_pm_tax_pm - s_disc_pm*s_tax_pm,
        |    n*q_disc_pm - s_disc_pm*s_disc_pm, n*q_tax_pm - s_tax_pm*s_tax_pm FROM m)
        |SELECT col_a, col_b, CAST(n AS BIGINT) AS n,
        |  CASE WHEN va > 0 AND vb > 0
        |       THEN CAST(round(CAST(cov AS DOUBLE) / sqrt(CAST(va AS DOUBLE) * CAST(vb AS DOUBLE)) * 1e6) AS BIGINT)
        |  END AS corr_e6
        |FROM pairs""".stripMargin,

    // grouped KMV: per-lang k-smallest distinct word hashes via
    // window rank, estimator in matched left-assoc double order
    "q203_kmv_grouped_vocab" ->
      """WITH w AS (SELECT lang, t AS word
        |           FROM documents, UNNEST(string_split(lower(text), ' ')) AS u(t)
        |           WHERE t != ''),
        |h AS (SELECT DISTINCT lang,
        |        ('0x'||substr(md5(word||'|42'),1,13))::UBIGINT AS h FROM w),
        |rk AS (SELECT lang, h, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS r FROM h),
        |ks AS (SELECT lang, h FROM rk WHERE r <= 16),
        |agg AS (SELECT lang, COUNT(*) AS n_kept, MAX(h) AS hk FROM ks GROUP BY 1)
        |SELECT lang, CAST(n_kept AS BIGINT) AS n_kept,
        |  CAST(round(CASE WHEN n_kept < 16 THEN CAST(n_kept AS DOUBLE) * 1e6
        |                  ELSE 15e0 * 4503599627370496e0 / CAST(hk AS DOUBLE) * 1e6 END) AS BIGINT) AS est_e6
        |FROM agg""".stripMargin,

    // KMV churn: per-supplier period sketches via window rank over
    // distinct md5-52 hashes, union synopsis, EXISTS membership, the
    // estimator in matched left-assoc double order; exact n/sum from
    // the whole table (refresh == from-scratch)
    "q205_kmv_churn" ->
      """WITH li AS MATERIALIZED (SELECT l_suppkey, l_partkey,
        |    CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(epoch_ms(CAST(l_shipdate AS TIMESTAMP)) // 86400000 AS BIGINT) AS ship_day
        |  FROM lineitem),
        |ex AS (SELECT l_suppkey, COUNT(*) AS n, SUM(qty) AS sum_qty FROM li GROUP BY 1),
        |ha AS (SELECT DISTINCT l_suppkey,
        |        ('0x'||substr(md5(CAST(l_partkey AS VARCHAR)||'|42'),1,13))::UBIGINT AS h
        |       FROM li WHERE ship_day < 9862),
        |hb AS (SELECT DISTINCT l_suppkey,
        |        ('0x'||substr(md5(CAST(l_partkey AS VARCHAR)||'|42'),1,13))::UBIGINT AS h
        |       FROM li WHERE ship_day >= 9862),
        |ht AS (SELECT DISTINCT l_suppkey,
        |        ('0x'||substr(md5(CAST(l_partkey AS VARCHAR)||'|42'),1,13))::UBIGINT AS h
        |       FROM li),
        |ka AS (SELECT l_suppkey, h FROM
        |        (SELECT l_suppkey, h, ROW_NUMBER() OVER (PARTITION BY l_suppkey ORDER BY h) rn FROM ha)
        |       WHERE rn <= 16),
        |kb AS (SELECT l_suppkey, h FROM
        |        (SELECT l_suppkey, h, ROW_NUMBER() OVER (PARTITION BY l_suppkey ORDER BY h) rn FROM hb)
        |       WHERE rn <= 16),
        |kt AS (SELECT l_suppkey, h FROM
        |        (SELECT l_suppkey, h, ROW_NUMBER() OVER (PARTITION BY l_suppkey ORDER BY h) rn FROM ht)
        |       WHERE rn <= 16),
        |ku AS (SELECT l_suppkey, h FROM
        |        (SELECT l_suppkey, h, ROW_NUMBER() OVER (PARTITION BY l_suppkey ORDER BY h) rn
        |         FROM (SELECT l_suppkey, h FROM ka UNION SELECT l_suppkey, h FROM kb))
        |       WHERE rn <= 16),
        |m AS (SELECT u.l_suppkey, u.h,
        |        EXISTS(SELECT 1 FROM ka WHERE ka.l_suppkey = u.l_suppkey AND ka.h = u.h) AS ina,
        |        EXISTS(SELECT 1 FROM kb WHERE kb.l_suppkey = u.l_suppkey AND kb.h = u.h) AS inb
        |      FROM ku u),
        |ag AS (SELECT l_suppkey, COUNT(*) AS n_u, MAX(h) AS hk_u,
        |        COUNT(*) FILTER (WHERE inb AND NOT ina) AS k_new,
        |        COUNT(*) FILTER (WHERE ina AND NOT inb) AS k_lost
        |       FROM m GROUP BY 1),
        |sa AS (SELECT l_suppkey, COUNT(*) AS n_a, MAX(h) AS hk_a FROM ka GROUP BY 1),
        |sb AS (SELECT l_suppkey, COUNT(*) AS n_b, MAX(h) AS hk_b FROM kb GROUP BY 1),
        |st AS (SELECT l_suppkey, COUNT(*) AS n_t, MAX(h) AS hk_t FROM kt GROUP BY 1),
        |j AS (SELECT ex.l_suppkey, ex.n, ex.sum_qty,
        |        COALESCE(st.n_t, 0) AS n_t, st.hk_t,
        |        COALESCE(sa.n_a, 0) AS n_a, sa.hk_a,
        |        COALESCE(sb.n_b, 0) AS n_b, sb.hk_b,
        |        COALESCE(ag.n_u, 0) AS n_u, ag.hk_u,
        |        COALESCE(ag.k_new, 0) AS k_new, COALESCE(ag.k_lost, 0) AS k_lost
        |      FROM ex LEFT JOIN st USING (l_suppkey) LEFT JOIN sa USING (l_suppkey)
        |        LEFT JOIN sb USING (l_suppkey) LEFT JOIN ag USING (l_suppkey)),
        |e AS (SELECT *,
        |    CASE WHEN n_t < 16 THEN CAST(n_t AS DOUBLE) * 1e6
        |         ELSE 15e0 * 4503599627370496e0 / CAST(hk_t AS DOUBLE) * 1e6 END AS et,
        |    CASE WHEN n_a < 16 THEN CAST(n_a AS DOUBLE) * 1e6
        |         ELSE 15e0 * 4503599627370496e0 / CAST(hk_a AS DOUBLE) * 1e6 END AS ea,
        |    CASE WHEN n_b < 16 THEN CAST(n_b AS DOUBLE) * 1e6
        |         ELSE 15e0 * 4503599627370496e0 / CAST(hk_b AS DOUBLE) * 1e6 END AS eb,
        |    CASE WHEN n_u < 16 THEN CAST(n_u AS DOUBLE) * 1e6
        |         ELSE 15e0 * 4503599627370496e0 / CAST(hk_u AS DOUBLE) * 1e6 END AS eu
        |  FROM j)
        |SELECT l_suppkey, CAST(n AS BIGINT) AS n, CAST(sum_qty AS BIGINT) AS sum_qty,
        |  CAST(n_t AS BIGINT) AS k_total, CAST(round(et) AS BIGINT) AS est_total_e6,
        |  CAST(n_a AS BIGINT) AS k_h1, CAST(round(ea) AS BIGINT) AS est_h1_e6,
        |  CAST(n_b AS BIGINT) AS k_h2, CAST(round(eb) AS BIGINT) AS est_h2_e6,
        |  CAST(k_new AS BIGINT) AS k_new,
        |  CASE WHEN n_u > 0
        |       THEN CAST(round(CAST(k_new AS DOUBLE) / CAST(n_u AS DOUBLE) * eu) AS BIGINT)
        |       ELSE 0 END AS est_new_e6,
        |  CAST(k_lost AS BIGINT) AS k_lost,
        |  CASE WHEN n_u > 0
        |       THEN CAST(round(CAST(k_lost AS DOUBLE) / CAST(n_u AS DOUBLE) * eu) AS BIGINT)
        |       ELSE 0 END AS est_lost_e6
        |FROM e""".stripMargin,

    // skew profile: per-key counts → totals + value-rollup cumulative
    // p99, all integer arithmetic
    "q198_key_skew" ->
      """WITH counts AS (SELECT event_type, COUNT(*) AS c FROM events GROUP BY 1),
        |tot AS (SELECT SUM(c) AS n_rows, COUNT(*) AS n_keys, MAX(c) AS max_key_rows FROM counts),
        |rollup AS (SELECT c, COUNT(*) AS f FROM counts GROUP BY 1),
        |cum AS (SELECT c, SUM(f) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cum FROM rollup),
        |p99 AS (SELECT MIN(c) AS p99_key_rows FROM cum, tot
        |        WHERE cum >= CAST(ceil(0.99 * n_keys) AS BIGINT))
        |SELECT CAST(n_rows AS BIGINT) AS n_rows, CAST(n_keys AS BIGINT) AS n_keys,
        |  CAST(max_key_rows AS BIGINT) AS max_key_rows,
        |  CAST(p99_key_rows AS BIGINT) AS p99_key_rows,
        |  CAST((1000 * max_key_rows) // n_rows AS BIGINT) AS top1_share_permille,
        |  CAST(n_rows // n_keys AS BIGINT) AS avg_key_rows,
        |  CAST((1000 * max_key_rows * 32) // n_rows AS BIGINT) AS skew_ratio_permille,
        |  CAST(greatest(1, (32 * max_key_rows + n_rows - 1) // n_rows) AS BIGINT) AS suggested_salt
        |FROM tot, p99""".stripMargin,

    // HLL overlap: the q177 register chain per side + union-by-max,
    // inclusion–exclusion in e6 integers
    "q195_hll_overlap" ->
      """WITH src AS (SELECT o_custkey, EXTRACT(year FROM o_orderdate) AS y FROM orders),
        |ha AS (SELECT ('0x'||substr(md5(CAST(o_custkey AS VARCHAR)||'|42'),1,13))::UBIGINT AS h
        |       FROM src WHERE y = 1996),
        |hb AS (SELECT ('0x'||substr(md5(CAST(o_custkey AS VARCHAR)||'|42'),1,13))::UBIGINT AS h
        |       FROM src WHERE y = 1997),
        |rega AS (SELECT h >> 42 AS idx,
        |    MAX(CASE WHEN (h & ((1::UBIGINT << 42) - 1)) = 0 THEN 43
        |             ELSE 42 - length(bin(h & ((1::UBIGINT << 42) - 1))) + 1 END) AS r
        |  FROM ha GROUP BY 1),
        |regb AS (SELECT h >> 42 AS idx,
        |    MAX(CASE WHEN (h & ((1::UBIGINT << 42) - 1)) = 0 THEN 43
        |             ELSE 42 - length(bin(h & ((1::UBIGINT << 42) - 1))) + 1 END) AS r
        |  FROM hb GROUP BY 1),
        |regu AS (SELECT idx, MAX(r) AS r
        |         FROM (SELECT * FROM rega UNION ALL SELECT * FROM regb) GROUP BY 1),
        |regs AS (SELECT 'a' AS side, idx, r FROM rega
        |         UNION ALL SELECT 'b', idx, r FROM regb
        |         UNION ALL SELECT 'u', idx, r FROM regu),
        |agg AS (SELECT side, COUNT(*) AS occ,
        |               SUM((1::UBIGINT << (43 - r))::HUGEINT) AS socc FROM regs GROUP BY 1),
        |est AS (SELECT side, CAST(1024 - occ AS BIGINT) AS n_zero,
        |        CAST(socc + (1024 - occ)::HUGEINT * (1::HUGEINT << 43) AS BIGINT) AS s_scaled
        |        FROM agg),
        |e AS (SELECT side,
        |        CAST(round(CASE WHEN raw <= 2560.0 AND n_zero > 0
        |                     THEN 1024.0 * ln(1024.0 / n_zero) ELSE raw END * 1e6) AS BIGINT) AS est_e6
        |      FROM est, LATERAL (SELECT (0.7213 / (1.0 + 1.079/1024)) * 1024.0 * 1024.0
        |                                * 8796093022208.0 / CAST(s_scaled AS DOUBLE) AS raw))
        |SELECT MAX(CASE WHEN side = 'a' THEN est_e6 END) AS est_a_e6,
        |  MAX(CASE WHEN side = 'b' THEN est_e6 END) AS est_b_e6,
        |  MAX(CASE WHEN side = 'u' THEN est_e6 END) AS est_union_e6,
        |  MAX(CASE WHEN side = 'a' THEN est_e6 END)
        |    + MAX(CASE WHEN side = 'b' THEN est_e6 END)
        |    - MAX(CASE WHEN side = 'u' THEN est_e6 END) AS est_inter_e6
        |FROM e""".stripMargin,

    // codec-free replay of the q194 patchify: pixel p of the 16×16
    // grid lands in patch ((p//16)//4)*4 + (p%16)//4
    "q194_image_patchify" ->
      """SELECT d.doc_id,
        |  CAST(((t.i // 16) // 4) * 4 + (t.i % 16) // 4 AS INT) AS patch_idx,
        |  CAST(SUM(3 * ((d.doc_id * 31 + t.i) % 256)) AS BIGINT) AS sum_rgb,
        |  CAST(MIN(3 * ((d.doc_id * 31 + t.i) % 256)) AS BIGINT) AS min_rgb,
        |  CAST(MAX(3 * ((d.doc_id * 31 + t.i) % 256)) AS BIGINT) AS max_rgb
        |FROM documents d, range(256) t(i)
        |GROUP BY 1, 2""".stripMargin,

    // Poisson bootstrap: hash-CDF weights, integer means, rank CI
    "q213_poisson_bootstrap" -> poissonBootstrapSql(b = 32, loRank = 2),

    // JL projection: rebuild the ±1 sign matrix from md5(i|j|seed),
    // quantize to micro-units, exact integer group-sum per (id, j)
    "q207_random_projection" ->
      """WITH q AS (SELECT vec_id,
        |        list_transform(embedding,
        |          x -> CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT)) AS qv
        |      FROM embeddings),
        |sgn AS (SELECT i, j,
        |        CASE WHEN ('0x'||substr(md5(i||'|'||j||'|42'),1,13))::UBIGINT & 1 = 1
        |             THEN -1 ELSE 1 END AS s
        |      FROM generate_series(0, 63) g(i), generate_series(0, 7) h(j))
        |SELECT vec_id, CAST(j AS INT) AS dim, CAST(SUM(qv[i+1] * s) AS BIGINT) AS p
        |FROM q, sgn
        |GROUP BY 1, 2""".stripMargin,

    // PCA moments: milli-quantize, then exact integer (n, s_i, s_j,
    // G_ij) per unordered dim pair — the one-aggregation Gram replay
    "q218_pca_gram" ->
      """WITH q AS (SELECT list_transform(embedding,
        |        x -> CAST(round(CAST(x AS DOUBLE) * 1e3, 0) AS BIGINT)) AS qv
        |      FROM embeddings WHERE embedding IS NOT NULL),
        |p AS (SELECT i, j FROM generate_series(0, 63) g(i),
        |        generate_series(0, 63) h(j) WHERE i <= j)
        |SELECT CAST(p.i AS INT) AS i, CAST(p.j AS INT) AS j,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(qv[p.i+1]) AS BIGINT) AS sum_i,
        |  CAST(SUM(qv[p.j+1]) AS BIGINT) AS sum_j,
        |  CAST(SUM(qv[p.i+1] * qv[p.j+1]) AS BIGINT) AS gram
        |FROM q, p GROUP BY 1, 2""".stripMargin,

    // DBSCAN: the q207 projection at d'=2, all-pairs eps test (oracle
    // scale only), neighbor counts -> cores, recursive min-label CC
    // over core-core pairs (the q37 scheme), border -> min core cluster
    "q219_dbscan_clusters" ->
      """WITH RECURSIVE q AS (SELECT vec_id, list_transform(embedding,
        |        x -> CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT)) AS qv
        |      FROM embeddings),
        |sgn AS (SELECT i, j,
        |        CASE WHEN ('0x'||substr(md5(i||'|'||j||'|42'),1,13))::UBIGINT & 1 = 1
        |             THEN -1 ELSE 1 END AS s
        |      FROM generate_series(0, 63) g(i), generate_series(0, 1) h(j)),
        |pr AS (SELECT vec_id, j, SUM(qv[i+1] * s) AS c FROM q, sgn GROUP BY 1, 2),
        |pt AS (SELECT vec_id AS id, MAX(CASE WHEN j = 0 THEN c END) AS x,
        |         MAX(CASE WHEN j = 1 THEN c END) AS y FROM pr GROUP BY 1),
        |pairs AS (SELECT a.id AS a_id, b.id AS b_id FROM pt a JOIN pt b
        |      ON (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)
        |         <= CAST(150000 AS BIGINT) * CAST(150000 AS BIGINT)),
        |nb AS (SELECT a_id, COUNT(*) AS n FROM pairs GROUP BY 1),
        |core AS (SELECT a_id AS id FROM nb WHERE n >= 5),
        |ce AS (SELECT p.a_id AS a, p.b_id AS b FROM pairs p
        |       JOIN core c1 ON c1.id = p.a_id JOIN core c2 ON c2.id = p.b_id),
        |cc AS (SELECT id AS node, id AS comp FROM core
        |       UNION SELECT e.b, cc.comp FROM cc JOIN ce e ON cc.node = e.a),
        |corelbl AS (SELECT node AS id, MIN(comp) AS cluster FROM cc GROUP BY 1),
        |borderlbl AS (SELECT p.a_id AS id, MIN(cl.cluster) AS cluster
        |       FROM pairs p JOIN corelbl cl ON cl.id = p.b_id
        |       WHERE p.a_id NOT IN (SELECT id FROM core) GROUP BY 1)
        |SELECT pt.id AS vec_id,
        |  CASE WHEN c.cluster IS NOT NULL THEN 'core'
        |       WHEN b.cluster IS NOT NULL THEN 'border'
        |       ELSE 'noise' END AS role,
        |  CAST(COALESCE(c.cluster, b.cluster, -1) AS BIGINT) AS cluster
        |FROM pt LEFT JOIN corelbl c ON c.id = pt.id
        |        LEFT JOIN borderlbl b ON b.id = pt.id""".stripMargin,

    "q193_sketch_winsorize" -> sketchWinsorizeSql(s = 5),
    "q192_ivfpq_residual_knn" -> ivfPqSql(kc = 8, nProbe = 3, m = 4,
      ksub = 8, iters = 2, k = 5),

    // containment: the q33 shingle algebra + integer prefix filter
    "q191_containment_dedup" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
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
        |FROM inter WHERE ni * 1000 >= 800 * na""".stripMargin,

    "q190_ivf_adc_knn" -> ivfAdcSql(kc = 8, nProbe = 3, m = 4, ksub = 8,
      iters = 2, k = 5),
    "q189_incremental_quantiles" -> quantileSketchSql(s = 5),

    // streaming quantiles: the same bucket-sketch chain over events
    // per event_type (stream == batch is spec-pinned; the oracle
    // replays the batch form, the q163 adjudication scheme)
    "q206_stream_quantiles" -> quantileSketchSql(s = 5,
      srcSql = "SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents " +
        "FROM events WHERE value IS NOT NULL",
      grp = "event_type"),
    "q188_pq_adc_knn" -> pqAdcSql(m = 4, ksub = 8, iters = 2, k = 5),

    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_qty_centi,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_base_price_centi,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * 10000 AS BIGINT)) AS BIGINT) AS sum_disc_price_tt,
        |  CAST((SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) * 10000) // COUNT(*) AS BIGINT) AS avg_qty_micro,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q02_projection_filter" ->
      """SELECT p_partkey, UPPER(p_name) AS name_u, p_size FROM part
        |WHERE p_size >= 10 AND p_retailprice IS NOT NULL""".stripMargin,

    "q03_left_join_enrich" ->
      """SELECT o_orderkey, c_name, c_mktsegment,
        |  ROUND(o_totalprice, 2) AS total_dec
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey""".stripMargin,

    "q04_semi_join_validation" -> (R +
      """SELECT user_id, item_id, rating, ts FROM ratings r
        |WHERE EXISTS (SELECT 1 FROM customer WHERE c_custkey = r.user_id AND c_acctbal > 0)
        |  AND EXISTS (SELECT 1 FROM part WHERE p_partkey = r.item_id AND p_size >= 5)""".stripMargin),

    "q05_anti_join_unrated" -> (R +
      """SELECT p_partkey AS item_id FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM ratings r WHERE r.item_id = p_partkey)""".stripMargin),

    "q06_binarize" -> (R +
      """SELECT user_id, item_id,
        |  CASE WHEN rating >= 3.0 THEN 1.0 ELSE 0.0 END AS rating_bin
        |FROM ratings""".stripMargin),

    "q07_kcore" -> (R +
      """, ku1 AS (SELECT * FROM ratings WHERE user_id IN
        |    (SELECT user_id FROM ratings GROUP BY 1 HAVING COUNT(*) >= 25))
        |, ki1 AS (SELECT * FROM ku1 WHERE item_id IN
        |    (SELECT item_id FROM ku1 GROUP BY 1 HAVING COUNT(*) >= 20))
        |, ku2 AS (SELECT * FROM ki1 WHERE user_id IN
        |    (SELECT user_id FROM ki1 GROUP BY 1 HAVING COUNT(*) >= 25))
        |SELECT user_id, item_id, rating, ts FROM ku2""".stripMargin),

    "q08_kfold_user" -> (R +
      """SELECT user_id, item_id,
        |  NTILE(5) OVER (PARTITION BY user_id ORDER BY item_id) AS fold
        |FROM ratings""".stripMargin),

    "q09_split_timestamp_user" -> (R + splitSql +
      """SELECT user_id, item_id, rn > n - CEIL(n * 0.2) AS is_test FROM split""".stripMargin),

    "q10_popularity_recs" -> (R + splitSql + popSql +
      """SELECT user_id, item_id, rank FROM recs""".stripMargin),

    "q11_map_at_5" -> (R + splitSql + popSql + relSql + apCtesSql +
      "\nSELECT user_id, ROUND(ap, 6) AS ap FROM ap"),

    "q12_ndcg_at_5" -> (R + splitSql + popSql + relSql + ndcgCtesSql +
      "\nSELECT user_id, ROUND(ndcg, 6) AS ndcg FROM nd"),

    "q13_triples" -> (R +
      """SELECT 'User(' || CAST(user_id AS VARCHAR) || ')' AS head,
        |       'rating' || CAST(CAST(rating AS BIGINT) AS VARCHAR) || '.0' AS relation,
        |       'Item(' || CAST(item_id AS VARCHAR) || ')' AS tail
        |FROM ratings
        |UNION ALL
        |SELECT 'User(' || CAST(c_custkey AS VARCHAR) || ')', 'is',
        |       'Property(' || c_mktsegment || ', mktsegment)'
        |FROM customer WHERE c_custkey IN (SELECT user_id FROM ratings)
        |UNION ALL
        |SELECT 'Item(' || CAST(p_partkey AS VARCHAR) || ')', 'has',
        |       'Property(' || p_brand || ', brand)'
        |FROM part WHERE p_partkey IN (SELECT item_id FROM ratings)""".stripMargin),

    "q14_group_collect" -> (R +
      """SELECT user_id,
        |  STRING_AGG(CAST(item_id AS VARCHAR), '::' ORDER BY rating DESC, item_id) AS items
        |FROM ratings GROUP BY user_id""".stripMargin),

    "q15_dedup_exact" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies, MD5(text) AS fp
        |FROM documents GROUP BY text""".stripMargin,

    "q21_cosine_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sc AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |        list_dot_product(q.v, e.v) /
        |        (SQRT(list_dot_product(q.v, q.v)) * SQRT(list_dot_product(e.v, e.v))) AS cos
        |      FROM e q, e WHERE q.vec_id < 50 AND q.vec_id <> e.vec_id)
        |SELECT query_id, neighbor_id, rank, ROUND(cos, 6) AS cos_r FROM (
        |  SELECT query_id, neighbor_id, cos,
        |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM sc) WHERE rank <= 3""".stripMargin,

    "q23_events_hourly" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS ws, event_type,
        |  COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // q21's scoring with the near-dup ceiling applied BEFORE the rank
    "q107_hard_negatives" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sc AS (SELECT q.vec_id AS query_id, e.vec_id AS negative_id,
        |        list_dot_product(q.v, e.v) /
        |        (SQRT(list_dot_product(q.v, q.v)) * SQRT(list_dot_product(e.v, e.v))) AS cos
        |      FROM e q, e WHERE q.vec_id < 50 AND q.vec_id <> e.vec_id)
        |SELECT query_id, negative_id, rank, ROUND(cos, 6) AS cos_r FROM (
        |  SELECT query_id, negative_id, cos,
        |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, negative_id) AS rank
        |  FROM sc WHERE cos < 0.95) WHERE rank <= 2""".stripMargin,

    "q24_fixed_ts_split" -> (R +
      """SELECT ts > 915148800000 AS is_test, COUNT(*) AS n,
        |  ROUND(AVG(rating), 6) AS avg_rating
        |FROM ratings GROUP BY 1""".stripMargin),

    "q16_minhash_lsh" -> (minhashCtes(16, 1) +
      """
        |SELECT i.doc_a, i.doc_b, ROUND(ni * 1.0 / (ca.n + cb.n - ni), 6) AS jaccard
        |FROM inter i JOIN cnt ca ON ca.doc_id = i.doc_a JOIN cnt cb ON cb.doc_id = i.doc_b
        |WHERE ni * 1.0 / (ca.n + cb.n - ni) >= 0.2""".stripMargin),

    "q210_weighted_minhash" ->
      weightedMinhashSql(nBands = 16, rowsPerBand = 1, cap = 8, threshold = "0.2"),

    "q17_simhash" ->
      """WITH docs AS (SELECT doc_id, string_split(lower(text), ' ') AS w
        |              FROM documents WHERE doc_id < 50),
        |tok AS (SELECT doc_id, md5(t.tk) AS h FROM docs, UNNEST(w) AS t(tk)),
        |bits AS (SELECT doc_id, j,
        |         SUM(CASE WHEN ((strpos('0123456789abcdef', h[1 + j // 4]) - 1)
        |                        // CAST(pow(2, 3 - (j % 4)) AS INT)) % 2 = 1
        |             THEN 1 ELSE -1 END) AS sgn
        |         FROM tok, UNNEST(generate_series(0, 63)) AS tj(j) GROUP BY 1, 2)
        |SELECT doc_id, STRING_AGG(CASE WHEN sgn > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simhash
        |FROM bits GROUP BY doc_id""".stripMargin,

    "q18_lang_quality" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
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
        |FROM sc""".stripMargin,

    "q19_token_stats" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS n_bpe_tokens,
        |  LENGTH(text) AS n_chars
        |FROM documents""".stripMargin,

    "q20_fingerprint" ->
      """SELECT doc_id,
        |  md5(TRIM(regexp_replace(
        |    translate(lower(text), '!"#$%&''()*+,-./:;<=>?@[\]^_`{|}~', ''),
        |    ' +', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin,

    "q25_relabel" -> (R +
      """SELECT label, ROW_NUMBER() OVER (ORDER BY label) - 1 AS node_id FROM (
        |  SELECT DISTINCT 'User(' || CAST(user_id AS VARCHAR) || ')' AS label FROM ratings
        |  UNION
        |  SELECT DISTINCT 'Item(' || CAST(item_id AS VARCHAR) || ')' AS label FROM ratings)""".stripMargin),

    "q26_graph_stats" -> (R +
      """SELECT COUNT(DISTINCT user_id) AS n_users, COUNT(DISTINCT item_id) AS n_items,
        |  COUNT(*) AS n_edges,
        |  (SELECT MAX(c) FROM (SELECT COUNT(*) AS c FROM ratings GROUP BY user_id)) AS max_user_deg,
        |  (SELECT MAX(c) FROM (SELECT COUNT(*) AS c FROM ratings GROUP BY item_id)) AS max_item_deg
        |FROM ratings""".stripMargin),

    "q27_report_pivot" -> (R +
      """, folds AS (SELECT rating, NTILE(5) OVER (ORDER BY
        |    md5(CAST(user_id AS VARCHAR) || '|' || CAST(item_id AS VARCHAR) || '|42'),
        |    item_id, user_id) AS fold FROM ratings)
        |, fm AS (SELECT fold, AVG(rating) AS m FROM folds GROUP BY 1)
        |SELECT 'ratings_avg' AS model,
        |  MAX(CASE WHEN fold = 1 THEN ROUND(m, 6) END) AS "fold-1_avg_rating",
        |  MAX(CASE WHEN fold = 2 THEN ROUND(m, 6) END) AS "fold-2_avg_rating",
        |  MAX(CASE WHEN fold = 3 THEN ROUND(m, 6) END) AS "fold-3_avg_rating",
        |  MAX(CASE WHEN fold = 4 THEN ROUND(m, 6) END) AS "fold-4_avg_rating",
        |  MAX(CASE WHEN fold = 5 THEN ROUND(m, 6) END) AS "fold-5_avg_rating",
        |  ROUND(AVG(m), 6) AS avg_rating_mean,
        |  ROUND(STDDEV_POP(m), 6) AS avg_rating_std
        |FROM fm""".stripMargin),

    "q28_scalar_functions" ->
      """WITH base AS (SELECT p_partkey, p_name,
        |  p_name || ' (' || CAST(1900 + p_partkey % 100 AS VARCHAR) || ')' AS title,
        |  CASE WHEN p_partkey % 3 = 0 THEN p_name || ', The' ELSE p_name END AS t2
        |  FROM part)
        |SELECT p_partkey,
        |  CAST(regexp_extract(title, '\((\d{4})\)', 1) AS INT) AS year,
        |  CASE WHEN t2 LIKE '%, The' THEN 'The ' || substr(t2, 1, LENGTH(t2) - 5)
        |       ELSE t2 END AS norm_name,
        |  translate(p_name, '!"#$%&''()*+,-./:;<=>?@[\]^_`{|}~', '') AS no_punct,
        |  regexp_replace(p_name, '[^\x00-\x7F]', '', 'g') AS ascii_only,
        |  '^' || replace(p_name, ' ', '.*') AS pattern
        |FROM base""".stripMargin,

    "q29_sort_limit" ->
      """SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS total
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q30_json_props" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod,
        |  COUNT(*) AS n,
        |  COUNT(CASE WHEN json_extract_string(props, '$.k') IS NULL THEN 1 END) AS n_null,
        |  ROUND(AVG(value), 4) AS avg_value
        |FROM events GROUP BY 1""".stripMargin,

    "q31_random_split_user" -> (R +
      """, split2 AS (SELECT user_id, item_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY
        |      md5(CAST(user_id AS VARCHAR) || '|' || CAST(item_id AS VARCHAR) || '|42'),
        |      item_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n FROM ratings)
        |SELECT user_id, item_id, rn > n - CEIL(n * 0.25) AS is_test FROM split2""".stripMargin),

    "q32_events_sliding" ->
      """SELECT epoch_ms(date_trunc('hour', ts) - o * INTERVAL 1 HOUR) AS ws, event_type,
        |  COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
        |FROM events, UNNEST(generate_series(0, 1)) AS t(o)
        |GROUP BY 1, 2""".stripMargin,

    // SNM replay: the window pairing is a plain rank-gap inequality
    // join at oracle scale; the Spark side's adjacent-block join is
    // plan shape only, same pairs
    "q197_sorted_neighborhood" ->
      """WITH keyed AS (SELECT doc_id,
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
        |WHERE ni * 1000 >= 100 * (ca.n + cb.n - ni)""".stripMargin,

    "q33_ngram_jaccard" ->
      """WITH docs AS (SELECT doc_id, string_split(lower(text), ' ') AS w
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
        |WHERE ni * 1.0 / (ca.n + cb.n - ni) >= 0.3""".stripMargin,

    "q39_surrogate_join" ->
      """WITH dim AS (SELECT p_brand, ROW_NUMBER() OVER (ORDER BY p_brand) - 1 AS brand_id
        |            FROM (SELECT DISTINCT p_brand FROM part))
        |SELECT p.p_partkey, p.p_brand, d.brand_id
        |FROM part p JOIN dim d ON p.p_brand = d.p_brand""".stripMargin,

    "q35_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, value, epoch_ms(ts) AS ms FROM events),
        |g AS (SELECT user_id, event_id, value, ms,
        |  CASE WHEN ms - LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) > 1800000
        |         OR LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) IS NULL
        |       THEN 1 ELSE 0 END AS brk
        |  FROM e),
        |sid AS (SELECT user_id, value, ms,
        |  CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, MIN(ms) AS session_start, MAX(ms) AS session_end,
        |  COUNT(*) AS n_events, ROUND(SUM(value), 4) AS total_value
        |FROM sid GROUP BY 1, 2""".stripMargin,

    "q36_topk_per_window" ->
      """WITH w AS (SELECT epoch_ms(time_bucket(INTERVAL 6 HOURS, ts)) AS ws, user_id,
        |                  COUNT(*) AS n_events
        |           FROM events GROUP BY 1, 2)
        |SELECT ws, user_id, n_events, rank FROM (
        |  SELECT ws, user_id, n_events,
        |         ROW_NUMBER() OVER (PARTITION BY ws ORDER BY n_events DESC, user_id) AS rank
        |  FROM w) WHERE rank <= 3""".stripMargin,

    "q37_dedup_clusters" -> (minhashCtes(8, 2).replace("WITH ", "WITH RECURSIVE ") +
      """,
        |pairs AS (SELECT i.doc_a, i.doc_b FROM inter i
        |          JOIN cnt ca ON ca.doc_id = i.doc_a JOIN cnt cb ON cb.doc_id = i.doc_b
        |          WHERE ni * 1.0 / (ca.n + cb.n - ni) >= 0.8),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |cc AS (SELECT doc_id AS node, doc_id AS comp FROM documents
        |       UNION SELECT e.b, cc.comp FROM cc JOIN edges e ON cc.node = e.a)
        |SELECT node AS doc_id, MIN(comp) AS cluster_id FROM cc GROUP BY node""".stripMargin),

    // q37's component labeling, reduced to the canonical survivors
    // (node == min component label) joined back to the corpus
    "q76_dedup_corpus" -> (minhashCtes(8, 2).replace("WITH ", "WITH RECURSIVE ") +
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
        |WHERE lbl.comp = lbl.node""".stripMargin),

    "q38_multimodal_features" ->
      """WITH pos AS (
        |  SELECT doc_id, ord(substr(text, p, 1)) AS byte, (p - 1) % 4 AS i
        |  FROM documents, UNNEST(generate_series(1, length(text))) AS t(p)),
        |agg AS (SELECT doc_id, i, SUM(byte) AS s FROM pos GROUP BY 1, 2)
        |SELECT d.doc_id AS id, length(d.text) AS n_bytes,
        |  ROUND(CAST(CAST(a0.s / 255.0 AS REAL) AS DOUBLE), 6) AS f0,
        |  ROUND(CAST(CAST(a3.s / 255.0 AS REAL) AS DOUBLE), 6) AS f3
        |FROM documents d
        |JOIN agg a0 ON a0.doc_id = d.doc_id AND a0.i = 0
        |JOIN agg a3 ON a3.doc_id = d.doc_id AND a3.i = 3""".stripMargin,

    "q34_embedding_neardup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  ROUND(list_dot_product(a.v, b.v) /
        |        (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v))), 6) AS cos
        |FROM e a, e b
        |WHERE a.vec_id < b.vec_id
        |  AND list_dot_product(a.v, b.v) /
        |      (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v))) >= 0.45""".stripMargin,

    // golden-file oracles, same scheme as q42/q45: both embedding fits
    // are pinned bit-exact (q40: local single-thread SGNS over a sorted
    // corpus; q41: single-partition sorted full-batch gradient) so the
    // (user_id, item_id, rank) output is session-independent, but no SQL
    // engine can replay the training itself (regenerate with
    // `runMain graft.GoldenGen q40_deepwalk_recs <sfdirs...>`)
    "q40_deepwalk_recs" -> (R +
      """SELECT user_id, item_id, rank
        |FROM '/root/repo/goldens/q40_deepwalk_recs.parquet'
        |WHERE n_ratings = (SELECT COUNT(*) FROM ratings)""".stripMargin),
    "q41_transe_recs" -> (R +
      """SELECT user_id, item_id, rank
        |FROM '/root/repo/goldens/q41_transe_recs.parquet'
        |WHERE n_ratings = (SELECT COUNT(*) FROM ratings)""".stripMargin),

    // golden-file oracles, same scheme as q41, one per non-translational
    // scoring family (regenerate with `runMain graft.GoldenGen <name>
    // <sfdirs...>` after spec-verifying a trainer change)
    "q67_distmult_recs" -> (R +
      """SELECT user_id, item_id, rank
        |FROM '/root/repo/goldens/q67_distmult_recs.parquet'
        |WHERE n_ratings = (SELECT COUNT(*) FROM ratings)""".stripMargin),
    "q68_rotate_recs" -> (R +
      """SELECT user_id, item_id, rank
        |FROM '/root/repo/goldens/q68_rotate_recs.parquet'
        |WHERE n_ratings = (SELECT COUNT(*) FROM ratings)""".stripMargin),
    "q69_complex_recs" -> (R +
      """SELECT user_id, item_id, rank
        |FROM '/root/repo/goldens/q69_complex_recs.parquet'
        |WHERE n_ratings = (SELECT COUNT(*) FROM ratings)""".stripMargin),
    "q70_transh_recs" -> (R +
      """SELECT user_id, item_id, rank
        |FROM '/root/repo/goldens/q70_transh_recs.parquet'
        |WHERE n_ratings = (SELECT COUNT(*) FROM ratings)""".stripMargin),
    "q71_transr_recs" -> (R +
      """SELECT user_id, item_id, rank
        |FROM '/root/repo/goldens/q71_transr_recs.parquet'
        |WHERE n_ratings = (SELECT COUNT(*) FROM ratings)""".stripMargin),
    "q72_transd_recs" -> (R +
      """SELECT user_id, item_id, rank
        |FROM '/root/repo/goldens/q72_transd_recs.parquet'
        |WHERE n_ratings = (SELECT COUNT(*) FROM ratings)""".stripMargin),
    "q73_rescal_recs" -> (R +
      """SELECT user_id, item_id, rank
        |FROM '/root/repo/goldens/q73_rescal_recs.parquet'
        |WHERE n_ratings = (SELECT COUNT(*) FROM ratings)""".stripMargin),
    "q74_tucker_recs" -> (R +
      """SELECT user_id, item_id, rank
        |FROM '/root/repo/goldens/q74_tucker_recs.parquet'
        |WHERE n_ratings = (SELECT COUNT(*) FROM ratings)""".stripMargin),

    // The same regexes run under RE2 (no lookaround/backrefs, so Java
    // and RE2 agree); DuckDB regexp_replace needs the explicit 'g' flag
    "q75_pii_scrub" ->
      """WITH withpii AS (
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
        |FROM withpii""".stripMargin,

    // INDEPENDENT SQL replay of the biased (node2vec) kernel — full
    // path content under the hash (the golden era hashed only the
    // constant path_len); see graft.oracle.XxhWalkSql.q42Sql
    "q42_node2vec_walks" -> graft.oracle.XxhWalkSql.q42Sql(R),

    // INDEPENDENT SQL replay (upgraded from a golden parquet): the
    // uniform walks are a pure function of the seeded XXH64 chain, so
    // the oracle re-derives XXH64 in DuckDB HUGEINT arithmetic and
    // replays every transition in a recursive CTE — see
    // graft.oracle.XxhWalkSql
    "q45_deepwalk_walks" -> graft.oracle.XxhWalkSql.q45Sql(R),

    // golden-file oracle, same scheme as q42/q45 (regenerate with
    // `runMain graft.GoldenGen q49_fuzzy_extract_one <sfdirs...>`) —
    // WRatio is not SQL-expressible; the scorer is pinned against
    // thefuzz's published values in TextAndEtlSpec
    "q49_fuzzy_extract_one" -> (R +
      """SELECT item_id, uri, score
        |FROM '/root/repo/goldens/q49_fuzzy_extract_one.parquet'
        |WHERE n_ratings = (SELECT COUNT(*) FROM ratings)""".stripMargin),

    // pure-SQL reconstruction of the fixture-replayed integration run:
    // the map winner is the exact expected URI by construction, and
    // every enriched property is the same pure function of p_name the
    // fixture transport computes
    "q50_data_integration" ->
      """SELECT CAST(p_partkey AS VARCHAR) AS item_id,
        |  'http://dbpedia.org/resource/' || p_name AS uri,
        |  'All about ' || p_name AS abstract,
        |  replace(p_name, ' ', '|') AS producer_j,
        |  'D1|D2' AS distributor_j,
        |  'W_' || p_name AS writer_j,
        |  'C' AS cinematography_j,
        |  'Category:' || string_split(p_name, ' ')[1] AS subject_j,
        |  'S1|' || p_name AS starring_j,
        |  string_split(p_name, ' ')[-1] AS director_j
        |FROM part WHERE p_partkey <= 400""".stripMargin,

    // the full YAML-experiment replay: typed-CSV load (reading the file
    // the query wrote), last-wins dedupe, then the SAME split/popularity/
    // metric fragments the piecewise oracles use; per-user metrics stay
    // unrounded (the report rounds once, after the user mean, exactly as
    // Reporter.foldPivot does). Single fold -> mean == fold value, std 0.
    "q51_experiment_yaml" ->
      (s"""WITH raw AS (
        |  SELECT "user_id::string" AS user_id, "item_id::string" AS item_id,
        |         CAST("rating::number" AS DOUBLE) AS rating,
        |         CAST("timestamp::number" AS DOUBLE) AS ts
        |  FROM read_csv('$runScratch/q51_exp/rating.csv/*.csv', header=true, all_varchar=true))
        |, ratings AS (
        |  SELECT user_id, item_id, MAX(rating) AS rating, MAX(ts) AS ts
        |  FROM raw GROUP BY 1, 2)""".stripMargin
      + splitSql + popSql + relSql + apCtesSql + ndcgCtesSql +
      """
        |SELECT 'popularity' AS model,
        |  (SELECT ROUND(AVG(ap), 6) FROM ap) AS "fold-1_MAP@5",
        |  (SELECT ROUND(AVG(ap), 6) FROM ap) AS "MAP@5_mean",
        |  0.0 AS "MAP@5_std",
        |  (SELECT ROUND(AVG(ndcg), 6) FROM nd) AS "fold-1_nDCG@5",
        |  (SELECT ROUND(AVG(ndcg), 6) FROM nd) AS "nDCG@5_mean",
        |  0.0 AS "nDCG@5_std"""".stripMargin),

    "q47_attr_map_filter" ->
      """SELECT p_partkey,
        |  array_to_string(list_sort(list_filter(['big', 'pricey', 'branded'],
        |    k -> CASE k WHEN 'big' THEN p_size >= 25
        |                WHEN 'pricey' THEN p_retailprice >= 1500
        |                ELSE TRUE END)), ',') AS kept
        |FROM part""".stripMargin,

    "q48_complex_real_zero_fill" ->
      """WITH ids AS (SELECT DISTINCT p_partkey % 2500 AS vec_id FROM part),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT i.vec_id,
        |  ROUND(COALESCE(e.v[1], 0.0), 6) AS f0,
        |  ROUND(COALESCE(e.v[32], 0.0), 6) AS f31,
        |  CAST(32 AS INT) AS n_dims
        |FROM ids i LEFT JOIN e ON i.vec_id = e.vec_id""".stripMargin,

    "q46_group_concat_props" ->
      """SELECT p_brand AS uri,
        |  COALESCE(STRING_AGG(DISTINCT p_type, '::' ORDER BY p_type), '') AS type,
        |  COALESCE(STRING_AGG(DISTINCT CAST(p_size AS VARCHAR), '::' ORDER BY CAST(p_size AS VARCHAR)), '') AS size
        |FROM part GROUP BY p_brand""".stripMargin,

    "q43_typed_csv_roundtrip" ->
      s"""SELECT CAST("nation_key::number" AS DOUBLE) AS nation_key,
        |       "name::string" AS name,
        |       replace("words::string_list", '::', '|') AS words_j
        |FROM read_csv('$runScratch/q43_roundtrip/*.csv', header=true, all_varchar=true)""".stripMargin,

    "q44_delimited_scan" ->
      ("SELECT split_part(line, '::', 1) AS region_key, split_part(line, '::', 2) AS region_name\n" +
       s"FROM read_csv('$runScratch/q44_mcsep/*.txt', header=false, delim='\t', columns={'line':'VARCHAR'})"),

    // IVF-exhaustive == exact top-k; normalize-then-dot on both sides
    // (list_transform mirrors Spark's transform, both fold left-to-right)
    "q53_ann_ivf_exact" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv FROM e),
        |sc AS (SELECT q.vec_id AS query_id, i.vec_id AS item_id,
        |        list_dot_product(q.nv, i.nv) AS cos
        |      FROM n q, n i WHERE q.vec_id < 30 AND q.vec_id <> i.vec_id)
        |SELECT query_id, item_id, rank, ROUND(cos, 6) AS cos_r FROM (
        |  SELECT query_id, item_id, cos,
        |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, item_id) AS rank
        |  FROM sc) WHERE rank <= 4""".stripMargin,

    // simhash CTE identical to q17 (minus the doc_id bound), then the
    // same 4-band pigeonhole join + exact Hamming re-check
    "q54_simhash_neardup" ->
      """WITH docs AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
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
        |  FROM cand) WHERE hamming <= 3""".stripMargin,

    // avg over ≤10² ln-doubles round(6)-matches (same parity class as
    // q11/q12's per-user means); counts stay exact integers
    "q55_unigram_logprob" ->
      """WITH toks AS (SELECT doc_id, t.tk
        |              FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |                   UNNEST(w) AS t(tk)),
        |vocab AS (SELECT tk, COUNT(*) AS c FROM toks GROUP BY tk),
        |tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n_total FROM vocab)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |       ROUND(AVG(ln(CAST(c AS DOUBLE) / n_total)), 6) AS avg_logp
        |FROM toks JOIN vocab USING (tk), tot
        |GROUP BY doc_id""".stripMargin,

    // DSIR: hashed buckets via the house md5-52 scheme, Laplace bucket
    // models, per-bucket e6 log-ratio weight, exact integer doc sums
    "q208_dsir_scores" ->
      """WITH toks AS (SELECT doc_id, t AS w
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
        |GROUP BY 1""".stripMargin,

    // CCNet terciles: the q144 LM chain + per-language NTILE on the
    // round-6 score (rank split — no float threshold crosses engines)
    "q215_perplexity_buckets" ->
      """WITH d AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS w FROM documents),
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
        |FROM nt""".stripMargin,

    // TF-IDF retrieval: e3-integer idf, exact integer dots/norms, one
    // float cosine in the pinned op order, rank on the rounded value
    "q217_tfidf_retrieval" ->
      """WITH toks AS (SELECT doc_id, t AS term
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
        |WHERE rk <= 10""".stripMargin,

    // bigram LM: pairs from the zip of w against its 1-shifted self
    // (numeric struct index — DuckDB's list_zip yields unnamed
    // structs); counts and V exactly as the Spark side
    "q144_bigram_logprob" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
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
        |GROUP BY doc_id""".stripMargin,

    "q56_label_join" ->
      """SELECT e.event_id AS exposure_id, o.event_id AS outcome_id, e.user_id,
        |       epoch_ms(o.ts) - epoch_ms(e.ts) AS lag_ms
        |FROM (SELECT * FROM events WHERE event_type = 'view') e
        |JOIN (SELECT * FROM events WHERE event_type = 'click') o
        |  ON e.user_id = o.user_id
        | AND o.ts > e.ts AND o.ts <= e.ts + INTERVAL 30 MINUTE""".stripMargin,

    "q57_labeled_exposures" ->
      """WITH pairs AS (
        |  SELECT e.event_id AS exposure_id, COUNT(*) AS n_outcomes,
        |         MIN(epoch_ms(o.ts) - epoch_ms(e.ts)) AS first_lag_ms
        |  FROM (SELECT * FROM events WHERE event_type = 'view') e
        |  JOIN (SELECT * FROM events WHERE event_type = 'click') o
        |    ON e.user_id = o.user_id
        |   AND o.ts > e.ts AND o.ts <= e.ts + INTERVAL 30 MINUTE
        |  GROUP BY 1)
        |SELECT v.event_id AS exposure_id, v.user_id, epoch_ms(v.ts) AS exp_ms,
        |       CASE WHEN p.n_outcomes IS NULL THEN 0 ELSE 1 END AS label,
        |       COALESCE(p.n_outcomes, 0) AS n_outcomes, p.first_lag_ms
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |LEFT JOIN pairs p ON p.exposure_id = v.event_id""".stripMargin,

    // same labeled CTE as q57, then the md5-prefix Bernoulli gate on
    // class 0: floor(0.5 * 2^32) = 0x80000000
    "q58_downsample_negatives" ->
      """WITH pairs AS (
        |  SELECT e.event_id AS exposure_id, COUNT(*) AS n_outcomes,
        |         MIN(epoch_ms(o.ts) - epoch_ms(e.ts)) AS first_lag_ms
        |  FROM (SELECT * FROM events WHERE event_type = 'view') e
        |  JOIN (SELECT * FROM events WHERE event_type = 'click') o
        |    ON e.user_id = o.user_id
        |   AND o.ts > e.ts AND o.ts <= e.ts + INTERVAL 30 MINUTE
        |  GROUP BY 1),
        |labeled AS (
        |  SELECT v.event_id AS exposure_id, v.user_id, epoch_ms(v.ts) AS exp_ms,
        |         CASE WHEN p.n_outcomes IS NULL THEN 0 ELSE 1 END AS label,
        |         COALESCE(p.n_outcomes, 0) AS n_outcomes, p.first_lag_ms
        |  FROM (SELECT * FROM events WHERE event_type = 'view') v
        |  LEFT JOIN pairs p ON p.exposure_id = v.event_id)
        |SELECT * FROM labeled
        |WHERE label <> 0
        |   OR substring(md5(CAST(exposure_id AS VARCHAR) || '|42'), 1, 8) < '80000000'""".stripMargin,

    // the oracle reconstructs the builder's exact output text from a
    // sentinel template: NAMEREGEXSENTINEL <- regex form of the title
    // (spaces -> .*), YEARSENTINEL <- the category year
    "q59_sparql_query_text" ->
      """WITH tpl AS (SELECT 'PREFIX dct:  <http://purl.org/dc/terms/>
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
        |FROM part, tpl WHERE p_partkey < 100""".stripMargin,

    "q60_bm25_keywords" ->
      """WITH toks AS (
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
        |FROM ranked WHERE rank <= 3 AND doc_id < 300""".stripMargin,

    "q61_sequence_pack" ->
      """WITH cnt AS (
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
        |FROM c""".stripMargin,

    "q62_contamination" ->
      """WITH cut AS (SELECT MAX(doc_id) * 9 // 10 AS c FROM documents),
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
        |FROM cnt c LEFT JOIN hit h ON h.doc_id = c.doc_id""".stripMargin,

    "q63_profile" ->
      """SELECT COUNT(*) AS n_rows,
        |  COUNT(l_orderkey) AS l_orderkey_nonnull, COUNT(DISTINCT l_orderkey) AS l_orderkey_distinct,
        |  MIN(l_orderkey) AS l_orderkey_min, MAX(l_orderkey) AS l_orderkey_max,
        |  COUNT(l_partkey) AS l_partkey_nonnull, COUNT(DISTINCT l_partkey) AS l_partkey_distinct,
        |  MIN(l_partkey) AS l_partkey_min, MAX(l_partkey) AS l_partkey_max,
        |  COUNT(l_quantity) AS l_quantity_nonnull, COUNT(DISTINCT l_quantity) AS l_quantity_distinct,
        |  MIN(l_quantity) AS l_quantity_min, MAX(l_quantity) AS l_quantity_max,
        |  COUNT(l_returnflag) AS l_returnflag_nonnull, COUNT(DISTINCT l_returnflag) AS l_returnflag_distinct,
        |  MIN(l_returnflag) AS l_returnflag_min, MAX(l_returnflag) AS l_returnflag_max,
        |  COUNT(l_shipdate) AS l_shipdate_nonnull, COUNT(DISTINCT l_shipdate) AS l_shipdate_distinct,
        |  MIN(l_shipdate) AS l_shipdate_min, MAX(l_shipdate) AS l_shipdate_max
        |FROM lineitem""".stripMargin,

    // replays TextOps.repetitionStats: 1-based list indexing and
    // end-exclusive range() mirror Spark's element_at/sequence; SUM over
    // BIGINT counts re-cast to BIGINT (DuckDB widens to HUGEINT)
    "q64_repetition" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
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
        |FROM dup3 d LEFT JOIN m2 m ON m.doc_id = d.doc_id""".stripMargin,

    // codec-free replay of the q65 synthetic-PNG pipeline: the pixel
    // content is the known pure function (doc_id·31 + p) mod 256, so the
    // pooled per-bucket RGB sums the javax.imageio decode produces are
    // recomputable straight from arithmetic — the PNG encode→decode
    // roundtrip is the only thing that can break this hash
    "q65_image_decode" ->
      """SELECT d.doc_id, CAST(t.i % 4 AS INT) AS feat_idx,
        |  CAST(SUM(3 * ((d.doc_id * 31 + t.i) % 256)) AS BIGINT) AS sum_rgb
        |FROM documents d, range(64) t(i)
        |GROUP BY 1, 2""".stripMargin,

    // codec-free replay of the q66 resize pipeline: dst pixel p of the
    // 4×4 nearest-neighbor downscale reads src pixel 16*(p//4)+2*(p%4)
    // of the (doc_id·31 + p) mod 256 gray pattern
    "q66_image_resize" ->
      """SELECT d.doc_id, CAST(t.i % 4 AS INT) AS feat_idx,
        |  CAST(SUM(3 * ((d.doc_id * 31 + (16 * (t.i // 4) + 2 * (t.i % 4))) % 256)) AS BIGINT) AS sum_rgb
        |FROM documents d, range(16) t(i)
        |GROUP BY 1, 2""".stripMargin,

    "q88_jsonl_roundtrip" ->
      s"""SELECT doc_id, lang, md5(text) AS text_fp, n_chars
        |FROM read_json('$runScratch/q88_jsonl/*.json', format='newline_delimited',
        |  columns={'doc_id':'BIGINT','lang':'VARCHAR','text':'VARCHAR','n_chars':'BIGINT'})""".stripMargin,

    // replays LineDedup.dedupCorpus(wordsPerLine = 3): fixed word
    // grouping (1-based inclusive list slice == Spark's slice), global
    // first-occurrence rank over (doc_id, line_idx), survivors
    // reassembled in line order ('' when nothing survives, matching
    // Spark's array_join over an empty array)
    "q89_line_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
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
        |FROM k GROUP BY doc_id""".stripMargin,

    // replays Dedup.dupSpanStats(k = 5): positional (non-distinct)
    // 5-grams, duplicated iff seen in >= 2 distinct docs, permille as
    // floor integer division
    "q90_dup_spans" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
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
        |FROM tot t LEFT JOIN dc d USING (doc_id)""".stripMargin,

    // the partition-pruned read-back must equal the same filter+agg over
    // the unpartitioned original
    "q91_partitioned_sink" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang IN ('en', 'fr')
        |GROUP BY 1, 2""".stripMargin,

    // the salted join must be row-for-row the plain equi-join
    "q92_salted_skew_join" ->
      """SELECT p_brand,
        |  CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_qty_centi,
        |  COUNT(*) AS n_rows
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1""".stripMargin,

    // DuckDB has no ORC reader: the oracle replays the projection from
    // the original parquet, so the ORC write+read must be lossless
    "q93_orc_roundtrip" ->
      """SELECT doc_id, lang, md5(text) AS text_fp, n_chars FROM documents""".stripMargin,

    // replays Bpe round 1: character pairs over the word vocabulary,
    // weighted by word frequency, total tie order at the top-20 cut
    "q95_bpe_pairs" ->
      """WITH wd AS (SELECT unnest(string_split(replace(lower(text), chr(31), ''), ' ')) AS w FROM documents),
        |wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM wd WHERE len(w) > 0 GROUP BY 1),
        |pr AS (SELECT w[i] AS a, w[i + 1] AS b, f
        |       FROM wf, UNNEST(generate_series(1, len(w) - 1)) AS t(i) WHERE len(w) >= 2)
        |SELECT a, b, CAST(SUM(f) AS BIGINT) AS cnt
        |FROM pr GROUP BY 1, 2 ORDER BY cnt DESC, a, b LIMIT 20""".stripMargin,

    // replays Bpe.encode's replace chain verbatim: chr(31)-WRAPPED
    // tokens ("tom" -> ␟t␟␟o␟␟m␟), one nested whole-token replace per
    // merge (␟a␟␟b␟ -> ␟ab␟; matches never share characters, so
    // left-to-right non-overlapping replace == BPE's greedy merge scan
    // in both engines). Merge table = the SAME BpeMerges the Spark
    // query uses — one source of truth, retraining can't desynchronize
    "q96_bpe_encode" -> {
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
    },

    // replays the budgeted selection: q18's quality formula, the same
    // (quality DESC, doc_id) total order, cumulative tokens, admit iff
    // the budget wasn't exhausted before the row
    "q106_token_budget_select" ->
      """WITH d AS (SELECT doc_id, source, string_split(lower(text), ' ') AS w,
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
        |GROUP BY 1""".stripMargin,

    // full independent replay of the COMPOSED pipeline: the q99 gate,
    // the q89 line dedup (newline flattened to space), the q76 minhash
    // chain + recursive CC re-rooted on the rewritten corpus, the q106
    // budget window, the q61 prefix sum, the q84 md5 shard — chained
    // into one CTE graph ending at the shard manifest
    "q108_pipeline_e2e" -> ("WITH RECURSIVE " +
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
        |GROUP BY 1""".stripMargin),

    // the NAIVE monolithic global window — the decomposed Spark plan
    // must reproduce it bit-for-bit
    "q109_split_global" -> (R +
      """, split2 AS (SELECT user_id, item_id,
        |    ROW_NUMBER() OVER (ORDER BY
        |      md5(CAST(user_id AS VARCHAR) || '|' || CAST(item_id AS VARCHAR) || '|42'),
        |      item_id, user_id) AS rn,
        |    COUNT(*) OVER () AS n FROM ratings)
        |SELECT user_id, item_id, rn > n - CEIL(n * 0.25) AS is_test FROM split2""".stripMargin),

    // bucketing is plan-level only: the oracle is the plain join/agg
    "q110_bucketed_join" ->
      """SELECT o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  ROUND(MAX(o_totalprice), 2) AS total_price
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1""".stripMargin,

    // the raw BETWEEN theta-join the binned equi-join must equal
    "q111_range_join" ->
      """SELECT o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_ship,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM (SELECT o_orderkey,
        |        epoch_ms(o_orderdate) // 86400000 AS win_start
        |      FROM orders WHERE o_orderpriority = '1-URGENT') o
        |JOIN (SELECT epoch_ms(l_shipdate) // 86400000 AS ship_day, l_quantity
        |      FROM lineitem) l
        |  ON l.ship_day BETWEEN o.win_start AND o.win_start + 3
        |GROUP BY 1""".stripMargin,

    // layout must not change values: the oracle is the box aggregate
    // over the raw table
    "q112_zorder_layout" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 400 AND l_suppkey BETWEEN 2 AND 6""".stripMargin,

    // the window-rank form the bounded-heap aggregate must equal
    "q113_topk_groups" ->
      """WITH ranked AS (
        |  SELECT l_orderkey, l_linenumber AS line_no, l_partkey, l_extendedprice,
        |    ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |                       ORDER BY l_extendedprice DESC, l_linenumber) AS rank
        |  FROM lineitem)
        |SELECT l_orderkey, line_no, l_partkey,
        |  ROUND(l_extendedprice, 2) AS price, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 3""".stripMargin,

    // the from-scratch recompute the two-step incremental refresh must
    // reproduce bit-for-bit
    "q114_incremental_agg" ->
      """SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(MIN(CAST(l_quantity AS BIGINT)) AS BIGINT) AS min_qty,
        |  CAST(MAX(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_qty,
        |  (CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) * 10000) // COUNT(*) AS mean_e4
        |FROM lineitem GROUP BY 1""".stripMargin,

    // same minhash/banding/anchor chain as q94, rolled up per source
    "q105_dedup_audit" -> (minhashCtes(4, 2) +
      """,
        |anch AS (SELECT b, h1, h2, MIN(doc_id) AS anchor FROM sig GROUP BY 1, 2, 3),
        |dups AS (SELECT DISTINCT s.doc_id
        |         FROM sig s JOIN anch a ON s.b = a.b AND s.h1 = a.h1 AND s.h2 = a.h2
        |         WHERE s.doc_id <> a.anchor)
        |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(p.doc_id) AS BIGINT) AS n_dup,
        |  (CAST(COUNT(p.doc_id) AS BIGINT) * 1000) // COUNT(*) AS dup_permille
        |FROM documents d LEFT JOIN dups p ON d.doc_id = p.doc_id
        |GROUP BY 1""".stripMargin),

    // the stateful kernel must land on the same winners
    "q104_stream_upsert" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS version,
        |  CASE WHEN doc_id % 5 = 0 THEN md5(upper(text)) ELSE md5(text) END AS text_fp
        |FROM documents""".stripMargin,

    // last-wins compaction must equal the CASE-expressed expected state
    "q97_upsert_compact" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS version,
        |  CASE WHEN doc_id % 5 = 0 THEN md5(upper(text)) ELSE md5(text) END AS text_fp
        |FROM documents""".stripMargin,

    // replays TextOps.curationGate: the q18 stopword CTE extended with
    // the rule arithmetic — every threshold as integer permille/centi
    // floors, bitmask composed by CASE addition
    "q99_curation_gate" ->
      """WITH d AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS w FROM documents),
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
        |  reasons = 0 AS keep FROM r""".stripMargin,

    // replays the diff classification + the synthetic next version
    "q100_snapshot_diff" ->
      """WITH base AS (SELECT doc_id, md5(text) AS fp FROM documents),
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
        |FROM d GROUP BY 1""".stripMargin,

    // the decomposed accent (e + chr(769)) must collapse under both
    // engines' NFC (java.text.Normalizer vs utf8proc)
    "q103_unicode_normalize" ->
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text || ' e' || chr(769) || 'clat'
        |         ELSE text END AS txt
        |  FROM documents)
        |SELECT doc_id, CAST(length(txt) AS BIGINT) AS len_raw,
        |  CAST(length(nfc_normalize(txt)) AS BIGINT) AS len_nfc,
        |  md5(nfc_normalize(txt)) AS norm_fp
        |FROM t""".stripMargin,

    // codec-free replay of the q102 aHash: dst pixel p of the 16×16→8×8
    // NN downsample reads src pixel 32·(p//8) + 2·(p%8) of the
    // (doc_id·31 + idx) mod 256 gray pattern; luminance = 3·gray; bit p
    // = 64·v_p > Σv (strict integer)
    "q102_image_phash" ->
      """WITH px AS (SELECT d.doc_id, t.p,
        |    3 * ((d.doc_id * 31 + (32 * (t.p // 8) + 2 * (t.p % 8))) % 256) AS v
        |  FROM documents d, range(64) t(p)),
        |tot AS (SELECT doc_id, SUM(v) AS total FROM px GROUP BY 1)
        |SELECT p.doc_id,
        |  string_agg(CASE WHEN 64 * p.v > t.total THEN '1' ELSE '0' END, '' ORDER BY p.p) AS phash,
        |  CAST(SUM(CASE WHEN 64 * p.v > t.total THEN 1 ELSE 0 END) AS BIGINT) AS n_set
        |FROM px p JOIN tot t USING (doc_id) GROUP BY 1""".stripMargin,

    // the range-sorted layout's pruned scan must equal the same
    // key-range aggregate over the original
    "q101_sorted_layout" ->
      """SELECT COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM documents WHERE doc_id BETWEEN 1000 AND 3000""".stripMargin,

    // the bloom-pruned composite must be row-identical to the plain
    // semi join
    "q98_bloom_prune_join" ->
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_qty_centi,
        |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000)""".stripMargin,

    // independent replay of the streaming bucket-anchor kernel's batch
    // form: the shared minhash CTE chain (4 bands × 2 rows) down to
    // `sig`, then per-bucket min-doc anchors and (anchor, member) pairs
    // counted across bands
    "q94_stream_lsh_dedup" -> (minhashCtes(4, 2) +
      """,
        |anch AS (SELECT b, h1, h2, MIN(doc_id) AS anchor FROM sig GROUP BY 1, 2, 3),
        |pr AS (SELECT a.anchor AS doc_a, s.doc_id AS doc_b
        |       FROM sig s JOIN anch a ON s.b = a.b AND s.h1 = a.h1 AND s.h2 = a.h2
        |       WHERE s.doc_id <> a.anchor)
        |SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS n_bands
        |FROM pr GROUP BY 1, 2""".stripMargin),

    // q87 = the same point-in-time semantics through the stateful
    // kernel; identical oracle
    "q87_asof_stateful" ->
      """WITH c AS (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'click'),
        |p0 AS (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'purchase'),
        |p AS (SELECT * FROM p0
        |      QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1)
        |SELECT c.user_id, c.event_id, epoch_ms(c.ts) AS ts_ms,
        |  p.event_id AS purchase_id, ROUND(p.value, 4) AS purchase_value,
        |  epoch_ms(c.ts) - epoch_ms(p.ts) AS lag_ms
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin,

    // independent replay via DuckDB's native ASOF LEFT JOIN (the engine
    // side never builds a join at all — union + window carry)
    "q77_asof_join" ->
      """WITH c AS (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'click'),
        |p0 AS (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'purchase'),
        |p AS (SELECT * FROM p0
        |      QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1)
        |SELECT c.user_id, c.event_id, epoch_ms(c.ts) AS ts_ms,
        |  p.event_id AS purchase_id, ROUND(p.value, 4) AS purchase_value,
        |  epoch_ms(c.ts) - epoch_ms(p.ts) AS lag_ms
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin,

    // integer replay of Chunking.chunk(200, 150):
    // nChunks = 1 if L<=200 else (L-51)//150 + 1; chunk i = [i*150, i*150+200)
    "q78_doc_chunks" ->
      """WITH d AS (SELECT doc_id, source, text, length(text) AS L FROM documents),
        |n AS (SELECT *, CASE WHEN L <= 200 THEN 1 ELSE (L - 51) // 150 + 1 END AS nc FROM d)
        |SELECT doc_id, source, i AS chunk_idx,
        |  md5(substring(text, CAST(i * 150 + 1 AS INT), 200)) AS chunk_fp,
        |  length(substring(text, CAST(i * 150 + 1 AS INT), 200)) AS chunk_chars
        |FROM n, UNNEST(generate_series(0, nc - 1)) AS t(i)""".stripMargin,

    // replay of Sampling.domainMix(alpha=0.5, target=0.5, seed=7):
    // same stats -> pow -> round-6 keep_rate -> md5 threshold chain
    "q79_domain_mix" ->
      """WITH stats AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS n,
        |                CAST(SUM(n_chars) AS DOUBLE) AS tok FROM documents GROUP BY 1),
        |w AS (SELECT source, n, pow(tok, 0.5) AS w FROM stats),
        |tot AS (SELECT SUM(w) AS sumw, SUM(n) AS bign FROM w),
        |rates AS (SELECT source, CAST(ROUND(LEAST(1.0, 0.5 * bign * w / sumw / n), 6) AS DOUBLE) AS keep_rate
        |          FROM w, tot)
        |SELECT d.doc_id, d.source, r.keep_rate
        |FROM documents d JOIN rates r ON d.source = r.source
        |WHERE r.keep_rate >= 1.0 OR
        |  substring(md5(CAST(d.doc_id AS VARCHAR) || '|' || '7'), 1, 8) <
        |    printf('%08x', CAST(floor(keep_rate * 4294967296) AS BIGINT))""".stripMargin,

    // replay of Sampling.stratifiedTake(lang, 5, seed=11): row_number
    // under the seeded-md5 order, key-render tiebreak
    "q80_stratified_sample" ->
      """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || '|' || '11'), CAST(doc_id AS VARCHAR)) AS rk
        |  FROM documents) WHERE rk <= 5""".stripMargin,

    // replay of Quantize.int8: scale = max|x|/127, codes clamped
    // round(x/scale), exact integer checksum + round-4 RMSE
    "q81_embed_quantize" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127 AS scale FROM e),
        |q AS (SELECT vec_id, v, scale,
        |        list_transform(v, x -> CASE WHEN scale = 0 THEN 0
        |          ELSE CAST(GREATEST(-127, LEAST(127, ROUND(x / scale, 0))) AS INT) END) AS qv
        |      FROM s)
        |SELECT vec_id, CAST(ROUND(scale, 6) AS DOUBLE) AS scale_r,
        |  CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS sum_abs_q,
        |  CAST(ROUND(sqrt(list_sum(list_transform(generate_series(1, len(v)),
        |    i -> pow(v[i] - qv[i] * scale, 2))) / GREATEST(len(v), 1)), 4) AS DOUBLE) AS rmse_r
        |FROM q""".stripMargin,

    // quantile_cont == Spark's percentile: both interpolate at
    // p*(n-1) with linear weights (ANSI percentile_cont)
    "q82_group_quantiles" ->
      """SELECT l_returnflag,
        |  CAST(ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS DOUBLE) AS p25,
        |  CAST(ROUND(quantile_cont(l_extendedprice, 0.50), 6) AS DOUBLE) AS p50,
        |  CAST(ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS DOUBLE) AS p75,
        |  CAST(ROUND(quantile_cont(l_extendedprice, 0.99), 6) AS DOUBLE) AS p99
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q83_iqr_outliers" ->
      """WITH f AS (SELECT event_type AS g, quantile_cont(value, 0.25) AS q1,
        |             quantile_cont(value, 0.75) AS q3 FROM events GROUP BY 1)
        |SELECT t.event_type, COUNT(*) AS n,
        |  COUNT(*) FILTER (t.value < q1 - 1.5 * (q3 - q1) OR
        |                   t.value > q3 + 1.5 * (q3 - q1)) AS n_outliers
        |FROM events t JOIN f ON t.event_type = f.g
        |GROUP BY 1""".stripMargin,

    // replay of Sampling.shard(8, seed=5): md5 prefix as a 32-bit int
    // mod nShards; in-shard order by the full md5, key tiebreak
    "q84_shard_assign" ->
      """WITH h AS (SELECT doc_id,
        |             md5(CAST(doc_id AS VARCHAR) || '|' || '5') AS hh FROM documents)
        |SELECT doc_id,
        |  CAST(CAST(('0x' || substring(hh, 1, 8)) AS BIGINT) % 8 AS INT) AS shard,
        |  ROW_NUMBER() OVER (
        |    PARTITION BY CAST(('0x' || substring(hh, 1, 8)) AS BIGINT) % 8
        |    ORDER BY hh, CAST(doc_id AS VARCHAR)) AS shard_pos
        |FROM h""".stripMargin,

    // full independent replay of SrpLsh.srpTopK: int8 quantize (the
    // q81 chain), Knuth-hash plane weights, integer sign-bit buckets,
    // (table, bucket) candidate join, exact cosine re-rank
    "q85_ann_srp" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127 AS scale FROM e),
        |q AS (SELECT vec_id, v, scale,
        |        list_transform(v, x -> CASE WHEN scale = 0 THEN 0
        |          ELSE CAST(GREATEST(-127, LEAST(127, ROUND(x / scale, 0))) AS INT) END) AS qv FROM s),
        |qx AS (SELECT vec_id, di.i - 1 AS d, qv[di.i] AS qq
        |       FROM q, UNNEST(generate_series(1, len(qv))) di(i)),
        |planes AS (SELECT CAST(i // 512 AS INT) AS t, CAST((i // 64) % 8 AS INT) AS b,
        |                  CAST(i % 64 AS INT) AS d,
        |                  CAST((i * 2654435761) % 4294967296 % 15 - 7 AS INT) AS w
        |           FROM range(2048) r(i)),
        |dots AS (SELECT vec_id, t, b, SUM(w * qq) AS sdot
        |         FROM qx JOIN planes USING (d) GROUP BY 1, 2, 3),
        |bkt AS (SELECT vec_id, t, SUM(CASE WHEN sdot > 0 THEN 1 << b ELSE 0 END) AS bucket
        |        FROM dots GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS neighbor_id
        |         FROM bkt a JOIN bkt c ON a.t = c.t AND a.bucket = c.bucket
        |         WHERE a.vec_id < 50 AND a.vec_id <> c.vec_id),
        |sc AS (SELECT query_id, neighbor_id,
        |         list_dot_product(eq.v, en.v) /
        |           (SQRT(list_dot_product(eq.v, eq.v)) * SQRT(list_dot_product(en.v, en.v))) AS cos
        |       FROM cand JOIN e eq ON eq.vec_id = query_id JOIN e en ON en.vec_id = neighbor_id)
        |SELECT query_id, neighbor_id, rank, ROUND(cos, 6) AS cos_r FROM (
        |  SELECT query_id, neighbor_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM sc) WHERE rank <= 3""".stripMargin,

    // replay of UrlOps over the same injected URLs; the regex is in the
    // Java/RE2 common subset so both engines extract identical spans
    "q86_url_extract" ->
      """WITH d AS (SELECT doc_id, text || ' see https://Sub' || (doc_id % 50) ||
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
        |FROM u""".stripMargin,

    "q115_semdedup" -> semDedupSql(k = 8, iters = 3, tau2 = 1225L),

    "q116_pagerank" -> pageRankSql(iters = 5),

    // the MG pass only proposes candidates; the answer is exactly
    // "count*(m+1) > n", which GROUP BY/HAVING states directly
    "q117_heavy_hitters" ->
      """WITH w AS (SELECT w FROM (SELECT UNNEST(string_split(lower(text), ' ')) AS w
        |                          FROM documents) WHERE len(w) > 0)
        |SELECT w AS key, COUNT(*) AS cnt FROM w GROUP BY 1
        |HAVING COUNT(*) * 31 > (SELECT COUNT(*) FROM w)""".stripMargin,

    // recursive-CTE transitive min-reachable label == the fixpoint of
    // the Spark min-label propagation — two independent algorithms for
    // the same pure function of the q34 edge set
    "q118_components" ->
      """WITH RECURSIVE e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id FROM e0 a, e0 b
        |      WHERE a.vec_id < b.vec_id
        |        AND list_dot_product(a.v, b.v) /
        |            (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v))) >= 0.45),
        |ue AS (SELECT a_id AS a, b_id AS b FROM p UNION SELECT b_id, a_id FROM p),
        |lbl AS (SELECT a AS n, a AS l FROM ue
        |        UNION SELECT e.b, lbl.l FROM lbl JOIN ue e ON lbl.n = e.a),
        |c AS (SELECT n, MIN(l) AS comp FROM lbl GROUP BY 1)
        |SELECT v.vec_id, COALESCE(c.comp, v.vec_id) AS component
        |FROM embeddings v LEFT JOIN c ON v.vec_id = c.n""".stripMargin,

    // q96's replace-chain replay + per-source integer rollup
    "q119_token_fertility" -> {
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
    },

    // the q115 codes CTE grouped by label: floor-mean centroids and
    // exact squared-L2 spread, all in longs
    "q120_label_prototypes" ->
      """WITH codes AS (
        |  SELECT vec_id, label, list_transform(v, x -> CASE WHEN scale = 0 THEN 0
        |    ELSE CAST(GREATEST(-127, LEAST(127, ROUND(x / scale, 0))) AS INT) END) AS qv
        |  FROM (SELECT vec_id, label, v, list_max(list_transform(v, x -> abs(x))) / 127 AS scale
        |        FROM (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |              FROM embeddings))),
        |cd AS (SELECT vec_id, label, CAST(u.i - 1 AS BIGINT) AS d, CAST(qv[u.i] AS BIGINT) AS q
        |       FROM codes, UNNEST(range(1, len(qv) + 1)) AS u(i)),
        |cent AS (SELECT label, d, CAST(FLOOR(CAST(SUM(q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
        |         FROM cd GROUP BY 1, 2),
        |d2 AS (SELECT cd.vec_id, cd.label, SUM((cd.q - ct.cv) * (cd.q - ct.cv)) AS d2
        |       FROM cd JOIN cent ct ON cd.label = ct.label AND cd.d = ct.d GROUP BY 1, 2)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  CAST(SUM(d2) AS BIGINT) AS sum_d2,
        |  CAST((CAST(SUM(d2) AS BIGINT) * 100) // COUNT(*) AS BIGINT) AS mean_d2_e2
        |FROM d2 GROUP BY 1""".stripMargin,

    // cumulative boundaries floor(0.8*2^32)=0xcccccccc,
    // floor(0.9*2^32)=0xe6666666; fixed-width lowercase hex compares
    // as unsigned
    "q121_group_split" ->
      """SELECT doc_id, source,
        |  CASE WHEN substring(md5(source || '|42'), 1, 8) < 'cccccccc' THEN 'train'
        |       WHEN substring(md5(source || '|42'), 1, 8) < 'e6666666' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,

    "q122_personalized_pagerank" ->
      pageRankSql(iters = 5, seedCond = Some("{} LIKE 'User(%'")),

    // itemKNN: integer-Jaccard sims (cooc*10^6 // union-size, all
    // nonneg so DuckDB // == Spark div), row_number replays the TopK
    // heap's (order DESC, tie ASC) total order at every stage
    "q123_itemknn_recs" -> (R + itemKnnChainSql +
      "\nSELECT user_id, item_id, score, rank FROM knn"),

    // RRF over the q123 itemKNN ranking and a global-popularity
    // ranking: rank-only fusion, 10^6 div (60 + rank) contributions
    "q133_rrf_fusion" -> (R + itemKnnChainSql +
      """, pop AS (
        |  SELECT item_id, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM ratings WHERE rating >= 4.0 GROUP BY 1
        |), pcand AS (
        |  SELECT item_id, cnt FROM (
        |    SELECT item_id, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, item_id) AS pr
        |    FROM pop) WHERE pr <= 20
        |), popranked AS (
        |  SELECT u.user_id, c.item_id,
        |         ROW_NUMBER() OVER (PARTITION BY u.user_id ORDER BY c.cnt DESC, c.item_id) AS rank
        |  FROM (SELECT DISTINCT user_id FROM ratings) u CROSS JOIN pcand c
        |  WHERE NOT EXISTS (SELECT 1 FROM ratings r
        |                    WHERE r.user_id = u.user_id AND r.item_id = c.item_id)
        |), fused AS (
        |  SELECT user_id, item_id, CAST(SUM(1000000 // (60 + rank)) AS BIGINT) AS rrf_e6
        |  FROM (SELECT user_id, item_id, rank FROM knn
        |        UNION ALL SELECT user_id, item_id, rank FROM popranked)
        |  GROUP BY 1, 2)
        |SELECT user_id, item_id, rrf_e6, CAST(rn AS INT) AS rank FROM (
        |  SELECT user_id, item_id, rrf_e6,
        |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rrf_e6 DESC, item_id) AS rn
        |  FROM fused) WHERE rn <= 5""".stripMargin),

    // coverage/Gini: count-of-counts rollup — the rank-weighted sum
    // v·(m·s + m(m+1)/2) per tie group is tie-order invariant, so no
    // per-item global rank exists on either engine
    "q137_rec_coverage" -> (R + itemKnnChainSql +
      """, rc AS (SELECT item_id, COUNT(*) AS cnt FROM knn GROUP BY 1)
        |, bv AS (SELECT cnt, COUNT(*) AS m FROM rc GROUP BY 1)
        |, cum AS (SELECT cnt, m,
        |    COALESCE(CAST(SUM(m) OVER (ORDER BY cnt
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS before
        |  FROM bv)
        |, g AS (SELECT CAST(SUM(cnt * (m * before + (m * (m + 1)) // 2)) AS BIGINT) AS t,
        |               CAST(SUM(m) AS BIGINT) AS n, CAST(SUM(cnt * m) AS BIGINT) AS s FROM cum)
        |, cat AS (SELECT COUNT(DISTINCT item_id) AS catalog_items FROM ratings)
        |SELECT catalog_items, n AS recommended_items,
        |       n * 1000000 // catalog_items AS coverage_e6,
        |       CAST((2 * t * 1000000) // (n * s) - (1000000 * (n + 1)) // n AS BIGINT) AS gini_e6
        |FROM g, cat""".stripMargin),

    // the composed experiment: q08's ntile fold CTE, the itemKNN
    // chain retargeted at `train` (its capped-relevant CTE renamed
    // `krel` so relSql's metric `rel` keeps its name), then the
    // SHARED q11/q12 metric CTEs verbatim — one oracle drift point
    // per fragment, zero duplicated SQL
    "q142_kfold_knn_eval" -> (R +
      """, kf AS (SELECT user_id, item_id, rating,
        |         NTILE(5) OVER (PARTITION BY user_id ORDER BY item_id) AS fold FROM ratings)
        |, train AS (SELECT user_id, item_id, rating FROM kf WHERE fold <> 1)
        |, test AS (SELECT user_id, item_id, rating FROM kf WHERE fold = 1)""".stripMargin
      + itemKnnChain("train", 5, "krel")
      + "\n, recs AS (SELECT user_id, item_id, rank FROM knn)"
      + relSql + apCtesSql + ndcgCtesSql +
      "\nSELECT a.user_id, ROUND(ap, 6) AS ap, ROUND(ndcg, 6) AS ndcg FROM ap a JOIN nd USING (user_id)"),

    // MMR: the 3-step greedy unrolled — pick t = argmax over
    // remaining candidates of score − GREATEST(sim to each picked),
    // ties by item_id; `ss` is the symmetric flat sim lookup
    "q139_mmr_diversify" -> (R + itemKnnChain("ratings", 10, "rel") +
      """, ss AS (SELECT item_a AS ia, item_b AS ib, sim FROM sims
        |         UNION ALL SELECT item_b AS ia, item_a AS ib, sim FROM sims)
        |, p1 AS (SELECT user_id, item_id AS i1, score AS m1 FROM knn WHERE rank = 1)
        |, c2 AS (SELECT k.user_id, k.item_id, k.score - COALESCE(s1.sim, 0) AS mmr
        |         FROM knn k JOIN p1 ON k.user_id = p1.user_id
        |         LEFT JOIN ss s1 ON s1.ia = k.item_id AND s1.ib = p1.i1
        |         WHERE k.item_id <> p1.i1)
        |, p2 AS (SELECT user_id, item_id AS i2, mmr AS m2 FROM (
        |           SELECT user_id, item_id, mmr,
        |                  row_number() OVER (PARTITION BY user_id ORDER BY mmr DESC, item_id) AS rn
        |           FROM c2) WHERE rn = 1)
        |, c3 AS (SELECT k.user_id, k.item_id,
        |                k.score - GREATEST(COALESCE(s1.sim, 0), COALESCE(s2.sim, 0)) AS mmr
        |         FROM knn k JOIN p1 ON k.user_id = p1.user_id JOIN p2 ON k.user_id = p2.user_id
        |         LEFT JOIN ss s1 ON s1.ia = k.item_id AND s1.ib = p1.i1
        |         LEFT JOIN ss s2 ON s2.ia = k.item_id AND s2.ib = p2.i2
        |         WHERE k.item_id <> p1.i1 AND k.item_id <> p2.i2)
        |, p3 AS (SELECT user_id, item_id AS i3, mmr AS m3 FROM (
        |           SELECT user_id, item_id, mmr,
        |                  row_number() OVER (PARTITION BY user_id ORDER BY mmr DESC, item_id) AS rn
        |           FROM c3) WHERE rn = 1)
        |SELECT user_id, i1 AS item_id, CAST(1 AS INT) AS pick, m1 AS mmr2x FROM p1
        |UNION ALL SELECT user_id, i2, CAST(2 AS INT), m2 FROM p2
        |UNION ALL SELECT user_id, i3, CAST(3 AS INT), m3 FROM p3""".stripMargin),

    // novelty: −log2(pop/|U|) mean per user (round-6 double, the q12
    // log2 precedent); ILD: 10⁶ − mean pairwise itemKNN similarity
    // within each top-5 list, exact ints (absent pair = 0)
    "q138_novelty_ild" -> (R + itemKnnChainSql +
      """, uc AS (SELECT COUNT(DISTINCT user_id) AS u FROM ratings)
        |, pop AS (SELECT item_id, COUNT(*) AS pcnt FROM ratings GROUP BY 1)
        |, nov AS (SELECT k.user_id,
        |            ROUND(SUM(LOG2(CAST(u AS DOUBLE) / CAST(pcnt AS DOUBLE))) / COUNT(*), 6) AS novelty
        |          FROM knn k JOIN pop USING (item_id) CROSS JOIN uc GROUP BY 1)
        |, prs AS (SELECT a.user_id, COALESCE(s.sim, 0) AS sim
        |          FROM knn a JOIN knn b ON a.user_id = b.user_id AND a.item_id < b.item_id
        |          LEFT JOIN sims s ON s.item_a = a.item_id AND s.item_b = b.item_id)
        |, ild AS (SELECT user_id,
        |            1000000 - CAST(SUM(sim) AS BIGINT) // COUNT(*) AS ild_e6
        |          FROM prs GROUP BY 1)
        |SELECT n.user_id, n.novelty, COALESCE(i.ild_e6, 1000000) AS ild_e6
        |FROM nov n LEFT JOIN ild i ON n.user_id = i.user_id""".stripMargin),

    "q125_hits" -> hitsSql(iters = 3),

    "q126_lpa_communities" -> lpaSql(iters = 4),

    // DuckDB's zip-unnest (parallel unnests advance in lockstep)
    // rebuilds the adjacent pairs; uni is referenced three times but
    // is a flat CTE, not an unrolled chain — no inlining blowup
    "q127_collocations" ->
      """WITH w AS (SELECT list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS ws
        |           FROM documents),
        |uni AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt
        |        FROM (SELECT unnest(ws) AS t FROM w) GROUP BY 1),
        |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS nw FROM uni),
        |bi AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cooc FROM (
        |    SELECT unnest(ws[1:len(ws)-1]) AS a, unnest(ws[2:len(ws)]) AS b
        |    FROM w WHERE len(ws) >= 2) GROUP BY 1, 2 HAVING COUNT(*) >= 10)
        |SELECT bi.a, bi.b, cooc,
        |  (cooc - 5) * (SELECT nw FROM n) * 10000 // (ua.cnt * ub.cnt) AS lift_e4
        |FROM bi JOIN uni ua ON ua.t = bi.a JOIN uni ub ON ub.t = bi.b""".stripMargin,

    // degree-ordered triangle orientation: each triangle found once at
    // its (deg, id)-smallest vertex; cc_e4 = 2·tri·10^4 // deg(deg-1)
    "q124_triangles" -> (R + itemProjSql +
      """, oriented AS (
        |  SELECT CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.u ELSE e.v END AS src,
        |         CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.v ELSE e.u END AS dst,
        |         CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN dv.deg ELSE du.deg END AS ddeg
        |  FROM edges e JOIN gdeg du ON du.node = e.u JOIN gdeg dv ON dv.node = e.v
        |), tris AS (
        |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |  FROM oriented e1 JOIN oriented e2
        |    ON e1.src = e2.src
        |   AND (e1.ddeg < e2.ddeg OR (e1.ddeg = e2.ddeg AND e1.dst < e2.dst))
        |  WHERE EXISTS (SELECT 1 FROM oriented e3 WHERE e3.src = e1.dst AND e3.dst = e2.dst)
        |), ntri AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS tri FROM (
        |    SELECT a AS node FROM tris UNION ALL SELECT b FROM tris
        |    UNION ALL SELECT c FROM tris) GROUP BY 1
        |)
        |SELECT g.node AS item_id, g.deg, COALESCE(n.tri, 0) AS tri,
        |       CASE WHEN g.deg >= 2
        |            THEN COALESCE(n.tri, 0) * 20000 // (g.deg * (g.deg - 1))
        |            ELSE 0 END AS cc_e4
        |FROM gdeg g LEFT JOIN ntri n ON n.node = g.node""".stripMargin),

    // distance-2 candidate pairs through sub-cap centers, scored by
    // integer neighborhood Jaccard; existing edges anti-joined out
    "q128_link_prediction" -> (R + itemProjSql +
      """, capped AS (
        |  SELECT adj.c, adj.x FROM (
        |    SELECT u AS c, v AS x FROM edges UNION ALL SELECT v, u FROM edges) adj
        |  JOIN gdeg ON gdeg.node = adj.c AND gdeg.deg <= 40)
        |, wedges AS (
        |  SELECT l.x AS a, r.x AS b, CAST(COUNT(*) AS BIGINT) AS cn
        |  FROM capped l JOIN capped r ON l.c = r.c AND l.x < r.x
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT w.a AS item_a, w.b AS item_b, cn,
        |       cn * 10000 // (CAST(da.deg AS BIGINT) + CAST(db.deg AS BIGINT) - cn) AS jaccard_e4
        |FROM wedges w
        |  ANTI JOIN edges ON edges.u = w.a AND edges.v = w.b
        |  JOIN gdeg da ON da.node = w.a JOIN gdeg db ON db.node = w.b""".stripMargin),

    // Markov next-item: ordered timelines via row_number, consecutive
    // pairs by rn+1 self-join (the oracle's luxury; Spark zips)
    "q155_markov_next_item" -> (R +
      """, sq AS (SELECT user_id, item_id,
        |           row_number() OVER (PARTITION BY user_id ORDER BY ts, item_id) AS rn
        |         FROM ratings)
        |, pr AS (SELECT a.item_id AS prev, b.item_id AS nxt
        |         FROM sq a JOIN sq b ON a.user_id = b.user_id AND b.rn = a.rn + 1
        |         WHERE a.item_id <> b.item_id)
        |, tc AS (SELECT prev, nxt, COUNT(*) AS cnt FROM pr GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT prev, nxt, cnt, CAST(rn AS INT) AS rank FROM (
        |  SELECT prev, nxt, cnt,
        |         row_number() OVER (PARTITION BY prev ORDER BY cnt DESC, nxt) AS rn
        |  FROM tc) WHERE rn <= 5""".stripMargin),

    // Kendall-τ: align the two rankings on shared (user, item), pair
    // within user, count concordant order agreements
    "q158_rank_agreement" -> (R + itemKnnChainSql +
      """, pop AS (
        |  SELECT item_id, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM ratings WHERE rating >= 4.0 GROUP BY 1
        |), pcand AS (
        |  SELECT item_id, cnt FROM (
        |    SELECT item_id, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, item_id) AS pr
        |    FROM pop) WHERE pr <= 20
        |), popranked AS (
        |  SELECT u.user_id, c.item_id,
        |         ROW_NUMBER() OVER (PARTITION BY u.user_id ORDER BY c.cnt DESC, c.item_id) AS rank
        |  FROM (SELECT DISTINCT user_id FROM ratings) u CROSS JOIN pcand c
        |  WHERE NOT EXISTS (SELECT 1 FROM ratings r
        |                    WHERE r.user_id = u.user_id AND r.item_id = c.item_id)
        |), jj AS (
        |  SELECT k.user_id, k.item_id, k.rank AS ra, p.rank AS rb
        |  FROM knn k JOIN popranked p ON p.user_id = k.user_id AND p.item_id = k.item_id
        |), prs AS (
        |  SELECT x.user_id,
        |         CASE WHEN (x.ra < y.ra) = (x.rb < y.rb) THEN 1 ELSE 0 END AS conc
        |  FROM jj x JOIN jj y ON x.user_id = y.user_id AND x.item_id < y.item_id)
        |SELECT user_id, COUNT(*) AS n_pairs, CAST(SUM(conc) AS BIGINT) AS concordant,
        |       (2 * CAST(SUM(conc) AS BIGINT) - COUNT(*)) * 1000000 // COUNT(*) AS tau_e6
        |FROM prs GROUP BY 1""".stripMargin),

    // Markov serving: the q155 chain + last-item lookup + anti-join
    "q157_markov_recs" -> (R +
      """, sq AS (SELECT user_id, item_id,
        |           row_number() OVER (PARTITION BY user_id ORDER BY ts, item_id) AS rn
        |         FROM ratings)
        |, pr AS (SELECT a.item_id AS prev, b.item_id AS nxt
        |         FROM sq a JOIN sq b ON a.user_id = b.user_id AND b.rn = a.rn + 1
        |         WHERE a.item_id <> b.item_id)
        |, tc AS (SELECT prev, nxt, COUNT(*) AS cnt FROM pr GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |, tk AS (SELECT prev, nxt, cnt FROM (
        |    SELECT prev, nxt, cnt,
        |           row_number() OVER (PARTITION BY prev ORDER BY cnt DESC, nxt) AS rn
        |    FROM tc) WHERE rn <= 5)
        |, lastq AS (SELECT user_id, item_id AS prev FROM (
        |    SELECT user_id, item_id,
        |           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, item_id) AS rn
        |    FROM ratings) WHERE rn = 1)
        |, mc AS (SELECT l.user_id, t.nxt AS item_id, t.cnt
        |         FROM lastq l JOIN tk t ON t.prev = l.prev
        |         WHERE NOT EXISTS (SELECT 1 FROM ratings r
        |                           WHERE r.user_id = l.user_id AND r.item_id = t.nxt))
        |SELECT user_id, item_id, cnt, CAST(rn AS INT) AS rank FROM (
        |  SELECT user_id, item_id, cnt,
        |         row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, item_id) AS rn
        |  FROM mc) WHERE rn <= 5""".stripMargin),

    // CUSUM: the q179 recursive-CTE scheme with double-typed anchors
    "q187_cusum_alarms" ->
      """WITH RECURSIVE
        |e AS (SELECT event_type, epoch_ms(ts) // 86400000 AS d FROM events),
        |mm AS (SELECT min(d) AS d0, max(d) AS d1 FROM e),
        |ks AS (SELECT DISTINCT event_type FROM e),
        |y AS (SELECT ks.event_type, t.i, CAST(COALESCE(c.cnt, 0) AS DOUBLE) AS y
        |      FROM ks CROSS JOIN mm
        |      CROSS JOIN UNNEST(generate_series(0, CAST(mm.d1 - mm.d0 AS INT))) AS t(i)
        |      LEFT JOIN (SELECT event_type, d, COUNT(*) AS cnt FROM e GROUP BY 1, 2) c
        |        ON c.event_type = ks.event_type AND c.d = mm.d0 + t.i),
        |tt AS (SELECT CAST(max(i) AS INT) AS tmax FROM y),
        |mu AS (SELECT event_type, SUM(y) / 10.0 AS mu FROM y WHERE i < 10 GROUP BY 1),
        |r AS (
        |  SELECT y.event_type, 9 AS i,
        |         CAST(0.0 AS DOUBLE) AS shi, CAST(0.0 AS DOUBLE) AS slo, -1 AS alarm
        |  FROM y WHERE i = 0
        |  UNION ALL
        |  SELECT r.event_type, r.i + 1,
        |         greatest(0.0, r.shi + (y.y - mu.mu - 3.0)),
        |         greatest(0.0, r.slo + (mu.mu - 3.0 - y.y)),
        |         CASE WHEN r.alarm >= 0 THEN r.alarm
        |              WHEN greatest(0.0, r.shi + (y.y - mu.mu - 3.0)) > 25.0
        |                OR greatest(0.0, r.slo + (mu.mu - 3.0 - y.y)) > 25.0 THEN r.i + 1
        |              ELSE -1 END
        |  FROM r JOIN y ON y.event_type = r.event_type AND y.i = r.i + 1
        |  JOIN mu ON mu.event_type = r.event_type
        |  WHERE r.i < (SELECT tmax FROM tt))
        |SELECT r.event_type, (SELECT tmax FROM tt) + 1 AS n_buckets,
        |       ROUND(mu.mu, 4) AS mu, ROUND(shi, 4) AS s_hi, ROUND(slo, 4) AS s_lo,
        |       alarm AS first_alarm
        |FROM r JOIN mu USING (event_type) WHERE i = (SELECT tmax FROM tt)""".stripMargin,

    "q185_purged_split" -> (R +
      """SELECT CASE WHEN ts <= 915148800000 THEN 'train' ELSE 'test' END AS split,
        |       COUNT(*) AS n, ROUND(AVG(rating), 6) AS avg_rating
        |FROM ratings
        |WHERE ts <= 915148800000 OR ts > 915148800000 + 604800000
        |GROUP BY 1""".stripMargin),

    "q186_group_kfold" ->
      """SELECT CAST(('0x'||substr(md5(source||'|42'),1,8))::UBIGINT % 4 + 1 AS INT) AS fold,
        |       COUNT(*) AS n, COUNT(DISTINCT source) AS n_sources
        |FROM documents GROUP BY 1""".stripMargin,

    // Hampel: DuckDB medians + the same left-assoc fence expression
    "q184_mad_outliers" ->
      """WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |           FROM events GROUP BY 1),
        |d AS (SELECT e.event_type, abs(e.value - m.med) AS dev, m.med
        |      FROM events e JOIN m USING (event_type)),
        |md AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY 1)
        |SELECT d.event_type, COUNT(*) AS n,
        |       CAST(SUM(CASE WHEN (CASE WHEN md.mad = 0 THEN d.dev > 0
        |                   ELSE d.dev > 3.5 * 1.4826 * md.mad END)
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |       ROUND(MAX(d.med), 4) AS med, ROUND(MAX(md.mad), 4) AS mad
        |FROM d JOIN md USING (event_type) GROUP BY 1""".stripMargin,

    // quantized kNN: same round/clamp quantization, exact-int dots
    "q183_quantized_knn" ->
      """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |qz AS (SELECT id,
        |         CASE WHEN mx = 0 THEN 1.0 ELSE mx / 127.0 END AS scale, v, mx
        |       FROM e, LATERAL (SELECT list_reduce(list_transform(v, x -> abs(x)),
        |                                           (a, b) -> greatest(a, b)) AS mx)),
        |qv AS (SELECT id, list_transform(v, x ->
        |         CAST(least(greatest(round(x / scale), -127.0), 127.0) AS BIGINT)) AS q
        |       FROM qz),
        |sc AS (SELECT a.id AS query_id, b.id AS item_id,
        |         list_dot_product(a.q, b.q) AS ab,
        |         list_dot_product(a.q, a.q) AS aa,
        |         list_dot_product(b.q, b.q) AS bb
        |       FROM qv a, qv b WHERE a.id < 30 AND a.id <> b.id),
        |r AS (SELECT query_id, item_id,
        |        CASE WHEN aa = 0 OR bb = 0 THEN -2.0
        |             ELSE ab / (sqrt(CAST(aa AS DOUBLE)) * sqrt(CAST(bb AS DOUBLE))) END AS qcos,
        |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
        |          CASE WHEN aa = 0 OR bb = 0 THEN -2.0
        |               ELSE ab / (sqrt(CAST(aa AS DOUBLE)) * sqrt(CAST(bb AS DOUBLE))) END DESC,
        |          item_id) AS rank
        |      FROM sc)
        |SELECT query_id, item_id, rank, ROUND(qcos, 6) AS qcos_r
        |FROM r WHERE rank <= 3""".stripMargin,

    // decontamination: the q33 shingle algebra, train x eval overlap
    "q182_decontamination" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS s
        |       FROM d, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
        |       WHERE len(w) >= 5),
        |j AS (SELECT tr.doc_id, ev.doc_id AS eval_id, COUNT(*) AS n_shared
        |      FROM (SELECT * FROM sh WHERE doc_id >= 20) tr
        |      JOIN (SELECT * FROM sh WHERE doc_id < 20) ev USING (s)
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 3)
        |SELECT doc_id, COUNT(*) AS n_eval_matches, MAX(n_shared) AS max_shared
        |FROM j GROUP BY 1""".stripMargin,

    // sketched profile: the q177 HLL replay per exploded column
    "q181_profile_sketched" ->
      """WITH src AS (
        |  SELECT u.col, u.v FROM lineitem,
        |  LATERAL (VALUES ('l_orderkey', CAST(l_orderkey AS VARCHAR)),
        |                  ('l_partkey', CAST(l_partkey AS VARCHAR)),
        |                  ('l_suppkey', CAST(l_suppkey AS VARCHAR))) AS u(col, v)
        |  WHERE u.v IS NOT NULL),
        |h AS (SELECT col, ('0x'||substr(md5(v||'|42'),1,13))::UBIGINT AS h FROM src),
        |reg AS (SELECT col, h >> 42 AS idx,
        |        CASE WHEN (h & ((1::UBIGINT << 42) - 1)) = 0 THEN 43
        |             ELSE 42 - length(bin(h & ((1::UBIGINT << 42) - 1))) + 1 END AS rho
        |        FROM h),
        |regs AS (SELECT col, idx, MAX(rho) AS r FROM reg GROUP BY 1, 2),
        |agg AS (SELECT col, COUNT(*) AS occ,
        |               SUM((1::UBIGINT << (43 - r))::HUGEINT) AS socc FROM regs GROUP BY 1),
        |est AS (SELECT col, CAST(1024 - occ AS BIGINT) AS n_zero,
        |        CAST(socc + (1024 - occ)::HUGEINT * (1::HUGEINT << 43) AS BIGINT) AS s_scaled
        |        FROM agg),
        |ee AS (SELECT col,
        |  CAST(round(CASE WHEN raw <= 2560.0 AND n_zero > 0
        |               THEN 1024.0 * ln(1024.0 / n_zero) ELSE raw END * 1e6) AS BIGINT) AS distinct_est_e6
        |  FROM est, LATERAL (SELECT (0.7213 / (1.0 + 1.079/1024)) * 1024.0 * 1024.0
        |                            * 8796093022208.0 / CAST(s_scaled AS DOUBLE) AS raw)),
        |stats AS (SELECT col, COUNT(*) AS nonnull, MIN(v) AS min_s, MAX(v) AS max_s
        |          FROM src GROUP BY 1)
        |SELECT stats.col, nonnull, min_s, max_s, distinct_est_e6
        |FROM stats JOIN ee USING (col)""".stripMargin,

    // winsorize: DuckDB quantile_cont bounds + LEAST/GREATEST clip
    "q180_winsorize" ->
      """WITH b AS (SELECT l_returnflag,
        |             quantile_cont(l_extendedprice, 0.05) AS lo,
        |             quantile_cont(l_extendedprice, 0.95) AS hi
        |           FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag, COUNT(*) AS n,
        |       CAST(SUM(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
        |       CAST(SUM(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
        |       ROUND(MAX(lo), 4) AS lo_bound, ROUND(MAX(hi), 4) AS hi_bound,
        |       ROUND(SUM(LEAST(GREATEST(l_extendedprice, lo), hi)), 2) AS sum_w
        |FROM lineitem l JOIN b USING (l_returnflag) GROUP BY 1""".stripMargin,

    // Holt recursion replayed as a recursive CTE, identical op order
    // Holt–Winters: the q179 dense-series CTEs + a recursive walk
    // carrying the m-long seasonal LIST (s[1] = s_{t−m}, rotate-append)
    "q214_holt_winters" ->
      """WITH RECURSIVE
        |e AS (SELECT event_type, epoch_ms(ts) // 86400000 AS d FROM events),
        |mm AS (SELECT min(d) AS d0, max(d) AS d1 FROM e),
        |ks AS (SELECT DISTINCT event_type FROM e),
        |y AS (SELECT ks.event_type, t.i, CAST(COALESCE(c.cnt, 0) AS DOUBLE) AS y
        |      FROM ks CROSS JOIN mm
        |      CROSS JOIN UNNEST(generate_series(0, CAST(mm.d1 - mm.d0 AS INT))) AS t(i)
        |      LEFT JOIN (SELECT event_type, d, COUNT(*) AS cnt FROM e GROUP BY 1, 2) c
        |        ON c.event_type = ks.event_type AND c.d = mm.d0 + t.i),
        |tt AS (SELECT CAST(max(i) AS INT) AS tmax FROM y),
        |agg AS (SELECT event_type,
        |          SUM(y) FILTER (WHERE i < 7) AS sum1,
        |          SUM(y) FILTER (WHERE i >= 7 AND i < 14) AS sum2,
        |          list(y ORDER BY i) FILTER (WHERE i < 7) AS ys1
        |        FROM y GROUP BY 1),
        |init AS (SELECT event_type, sum1 / 7e0 AS l0, (sum2 - sum1) / 49e0 AS b0,
        |           list_transform(ys1, v -> v - sum1 / 7e0) AS s0
        |         FROM agg),
        |r AS (
        |  SELECT event_type, 6 AS i, l0 AS l, b0 AS b, s0 AS s FROM init
        |  UNION ALL
        |  SELECT r.event_type, r.i + 1,
        |    0.5 * (y.y - r.s[1]) + 0.5 * (r.l + r.b),
        |    0.25 * ((0.5 * (y.y - r.s[1]) + 0.5 * (r.l + r.b)) - r.l) + 0.75 * r.b,
        |    r.s[2:] || [0.25 * (y.y - (0.5 * (y.y - r.s[1]) + 0.5 * (r.l + r.b))) + 0.75 * r.s[1]]
        |  FROM r JOIN y ON y.event_type = r.event_type AND y.i = r.i + 1
        |  WHERE r.i < (SELECT tmax FROM tt))
        |SELECT event_type, (SELECT tmax FROM tt) + 1 AS n_buckets,
        |       ROUND(l, 4) AS level, ROUND(b, 4) AS trend,
        |       ROUND(s[7], 4) AS season_h,
        |       ROUND(l + 7.0 * b + s[7], 4) AS forecast
        |FROM r WHERE i = (SELECT tmax FROM tt)""".stripMargin,

    "q179_holt_forecast" ->
      """WITH RECURSIVE
        |e AS (SELECT event_type, epoch_ms(ts) // 86400000 AS d FROM events),
        |mm AS (SELECT min(d) AS d0, max(d) AS d1 FROM e),
        |ks AS (SELECT DISTINCT event_type FROM e),
        |y AS (SELECT ks.event_type, t.i, CAST(COALESCE(c.cnt, 0) AS DOUBLE) AS y
        |      FROM ks CROSS JOIN mm
        |      CROSS JOIN UNNEST(generate_series(0, CAST(mm.d1 - mm.d0 AS INT))) AS t(i)
        |      LEFT JOIN (SELECT event_type, d, COUNT(*) AS cnt FROM e GROUP BY 1, 2) c
        |        ON c.event_type = ks.event_type AND c.d = mm.d0 + t.i),
        |tt AS (SELECT CAST(max(i) AS INT) AS tmax FROM y),
        |r AS (
        |  SELECT y0.event_type, 1 AS i, y1.y AS l, y1.y - y0.y AS b
        |  FROM y y0 JOIN y y1 ON y1.event_type = y0.event_type AND y1.i = 1
        |  WHERE y0.i = 0
        |  UNION ALL
        |  SELECT r.event_type, r.i + 1,
        |         0.5 * y.y + 0.5 * (r.l + r.b),
        |         0.25 * ((0.5 * y.y + 0.5 * (r.l + r.b)) - r.l) + 0.75 * r.b
        |  FROM r JOIN y ON y.event_type = r.event_type AND y.i = r.i + 1
        |  WHERE r.i < (SELECT tmax FROM tt))
        |SELECT event_type, (SELECT tmax FROM tt) + 1 AS n_buckets,
        |       ROUND(l, 4) AS level, ROUND(b, 4) AS trend,
        |       ROUND(l + 7.0 * b, 4) AS forecast
        |FROM r WHERE i = (SELECT tmax FROM tt)""".stripMargin,

    // HLL: identical md5 hash, bin()-length rho, exact scaled sum
    "q177_hll_distinct" ->
      """WITH h AS (SELECT ('0x'||substr(md5(CAST(l_orderkey AS VARCHAR)||'|42'),1,13))::UBIGINT AS h
        |           FROM lineitem),
        |reg AS (SELECT h >> 42 AS idx,
        |        CASE WHEN (h & ((1::UBIGINT << 42) - 1)) = 0 THEN 43
        |             ELSE 42 - length(bin(h & ((1::UBIGINT << 42) - 1))) + 1 END AS rho
        |        FROM h),
        |regs AS (SELECT idx, MAX(rho) AS r FROM reg GROUP BY idx),
        |agg AS (SELECT COUNT(*) AS occ,
        |               SUM((1::UBIGINT << (43 - r))::HUGEINT) AS socc FROM regs),
        |est AS (SELECT 1024 AS m, CAST(1024 - occ AS BIGINT) AS n_zero,
        |        CAST(socc + (1024 - occ)::HUGEINT * (1::HUGEINT << 43) AS BIGINT) AS s_scaled
        |        FROM agg)
        |SELECT m, n_zero, s_scaled,
        |  CAST(round(CASE WHEN raw <= 2560.0 AND n_zero > 0
        |               THEN 1024.0 * ln(1024.0 / n_zero) ELSE raw END * 1e6) AS BIGINT) AS est_e6
        |FROM est, LATERAL (SELECT (0.7213 / (1.0 + 1.079/1024)) * 1024.0 * 1024.0
        |                          * 8796093022208.0 / CAST(s_scaled AS DOUBLE) AS raw)""".stripMargin,

    // streaming HLL distinct, batch twin: q177's register chain at
    // b = 6 grouped by (event_type × hour), alpha = 0.709
    "q209_stream_distinct" ->
      """WITH src AS (SELECT event_type || '|' || CAST(epoch_ms(ts) // 3600000 AS VARCHAR) AS g,
        |                    CAST(user_id AS VARCHAR) AS k
        |             FROM events WHERE user_id IS NOT NULL),
        |h AS (SELECT g, ('0x'||substr(md5(k||'|42'),1,13))::UBIGINT AS h FROM src),
        |reg AS (SELECT g, h >> 46 AS idx,
        |        CASE WHEN (h & ((1::UBIGINT << 46) - 1)) = 0 THEN 47
        |             ELSE 46 - length(bin(h & ((1::UBIGINT << 46) - 1))) + 1 END AS rho
        |        FROM h),
        |regs AS (SELECT g, idx, MAX(rho) AS r FROM reg GROUP BY 1, 2),
        |agg AS (SELECT g, COUNT(*) AS occ,
        |               SUM((1::UBIGINT << (47 - r))::HUGEINT) AS socc FROM regs GROUP BY 1),
        |est AS (SELECT g, 64 AS m, CAST(64 - occ AS BIGINT) AS n_zero,
        |        CAST(socc + (64 - occ)::HUGEINT * (1::HUGEINT << 47) AS BIGINT) AS s_scaled
        |        FROM agg)
        |SELECT g, m, n_zero, s_scaled,
        |  CAST(round(CASE WHEN raw <= 160e0 AND n_zero > 0
        |               THEN 64e0 * ln(64e0 / n_zero) ELSE raw END * 1e6) AS BIGINT) AS est_e6
        |FROM est, LATERAL (SELECT 0.709e0 * 64e0 * 64e0 * 140737488355328e0
        |                          / CAST(s_scaled AS DOUBLE) AS raw)""".stripMargin,

    // streaming CMS, batch twin: q178's counter chain over events
    "q212_stream_cms" ->
      """WITH c AS (SELECT j AS row,
        |    CAST(('0x'||substr(md5(event_type||'|'||CAST(j AS VARCHAR)||'|7'),1,13))::UBIGINT % 64 AS BIGINT) AS idx,
        |    COUNT(*) AS c
        |  FROM events, UNNEST(generate_series(0, 3)) AS t(j) GROUP BY 1, 2),
        |q AS (SELECT DISTINCT event_type FROM events),
        |e AS (SELECT q.event_type, j AS row,
        |    CAST(('0x'||substr(md5(q.event_type||'|'||CAST(j AS VARCHAR)||'|7'),1,13))::UBIGINT % 64 AS BIGINT) AS idx
        |  FROM q, UNNEST(generate_series(0, 3)) AS t(j))
        |SELECT e.event_type, MIN(COALESCE(c.c, 0)) AS est
        |FROM e LEFT JOIN c USING (row, idx) GROUP BY 1""".stripMargin,

    // CMS: same md5(key|row|seed) % width counters, min over rows
    "q178_cms_counts" ->
      """WITH c AS (SELECT j AS row,
        |    CAST(('0x'||substr(md5(CAST(l_suppkey AS VARCHAR)||'|'||CAST(j AS VARCHAR)||'|7'),1,13))::UBIGINT % 512 AS BIGINT) AS idx,
        |    COUNT(*) AS c
        |  FROM lineitem, UNNEST(generate_series(0, 3)) AS t(j) GROUP BY 1, 2),
        |q AS (SELECT DISTINCT l_suppkey FROM lineitem WHERE l_suppkey <= 20),
        |e AS (SELECT q.l_suppkey, j AS row,
        |    CAST(('0x'||substr(md5(CAST(q.l_suppkey AS VARCHAR)||'|'||CAST(j AS VARCHAR)||'|7'),1,13))::UBIGINT % 512 AS BIGINT) AS idx
        |  FROM q, UNNEST(generate_series(0, 3)) AS t(j))
        |SELECT e.l_suppkey, MIN(COALESCE(c.c, 0)) AS est
        |FROM e LEFT JOIN c USING (row, idx) GROUP BY 1""".stripMargin,

    // composed sessionize → funnel → trending: q35's session CTEs,
    // stage = least(session ordinal, 3), q163's decay rollup
    "q175_session_funnel_trending" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
        |g AS (SELECT user_id, event_id, ms,
        |  CASE WHEN ms - LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) > 1800000
        |         OR LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) IS NULL
        |       THEN 1 ELSE 0 END AS brk
        |  FROM e),
        |sid AS (SELECT user_id, ms,
        |  CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM g),
        |sess AS (SELECT user_id, session_id, MAX(ms) AS session_end
        |         FROM sid GROUP BY 1, 2),
        |msx AS (SELECT LEAST(session_id, 3) AS item_id, session_end AS ts FROM sess),
        |b AS (SELECT item_id, ts // 21600000 AS bucket, COUNT(*) AS n
        |      FROM msx GROUP BY 1, 2),
        |bm AS (SELECT item_id, MAX(bucket) AS mb FROM b GROUP BY 1),
        |kept AS (SELECT b.item_id, b.bucket, b.n FROM b JOIN bm USING (item_id)
        |         WHERE b.bucket > bm.mb - 41),
        |gm AS (SELECT MAX(bucket) AS g FROM kept)
        |SELECT item_id AS stage,
        |       CAST(SUM(n * (1000000 // (CAST(1 AS BIGINT) <<
        |         CAST(LEAST(g - bucket, 40) AS INT)))) AS BIGINT) AS score_e6,
        |       CAST(SUM(n) AS BIGINT) AS n
        |FROM kept, gm GROUP BY item_id
        |ORDER BY score_e6 DESC, stage LIMIT 3""".stripMargin,

    // triples:all training frame: q13's label algebra over the
    // two-column property explosion
    "q174_kge_triples_all" -> (R +
      """SELECT 'User(' || CAST(user_id AS VARCHAR) || ')' AS head,
        |       'rating' || CAST(CAST(rating AS BIGINT) AS VARCHAR) || '.0' AS relation,
        |       'Item(' || CAST(item_id AS VARCHAR) || ')' AS tail
        |FROM ratings
        |UNION ALL
        |SELECT 'Item(' || CAST(p_partkey AS VARCHAR) || ')', 'has',
        |       'Property(' || p_brand || ', p_brand)'
        |FROM part WHERE p_partkey IN (SELECT item_id FROM ratings)
        |  AND p_brand IS NOT NULL AND p_brand <> ''
        |UNION ALL
        |SELECT 'Item(' || CAST(p_partkey AS VARCHAR) || ')', 'has',
        |       'Property(' || p_type || ', p_type)'
        |FROM part WHERE p_partkey IN (SELECT item_id FROM ratings)
        |  AND p_type IS NOT NULL AND p_type <> ''""".stripMargin),

    // grouped quantile_cont: DuckDB's builtin list form, q cast to
    // DOUBLE so both engines render 0.9 identically
    "q173_grouped_quantiles" ->
      """WITH g AS (SELECT l_returnflag, l_linestatus,
        |             quantile_cont(l_extendedprice, [0.25, 0.5, 0.75, 0.9]) AS vs
        |           FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag, l_linestatus,
        |       CAST([0.25, 0.5, 0.75, 0.9][i] AS DOUBLE) AS q, vs[i] AS value
        |FROM g, UNNEST(generate_series(1, 4)) AS t(i)""".stripMargin,

    // order-2 Markov: the q155 scheme extended to timeline triples
    "q171_markov2_transitions" -> (R +
      """, sq AS (SELECT user_id, item_id,
        |           row_number() OVER (PARTITION BY user_id ORDER BY ts, item_id) AS rn
        |         FROM ratings)
        |, tr AS (SELECT a.item_id AS prev2, b.item_id AS prev1, c.item_id AS nxt
        |         FROM sq a JOIN sq b ON a.user_id = b.user_id AND b.rn = a.rn + 1
        |                   JOIN sq c ON a.user_id = c.user_id AND c.rn = a.rn + 2
        |         WHERE c.item_id <> b.item_id)
        |, tc AS (SELECT prev2, prev1, nxt, COUNT(*) AS cnt FROM tr
        |         GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2)
        |SELECT prev2, prev1, nxt, cnt, CAST(rn AS INT) AS rank FROM (
        |  SELECT prev2, prev1, nxt, cnt,
        |         row_number() OVER (PARTITION BY prev2, prev1 ORDER BY cnt DESC, nxt) AS rn
        |  FROM tc) WHERE rn <= 5""".stripMargin),

    // order-2 serving with order-1 backoff: q157's chain on the
    // last-two context, union the first-order fallback for users with
    // no unseen order-2 candidate
    "q172_markov2_recs" -> (R +
      """, sq AS (SELECT user_id, item_id,
        |           row_number() OVER (PARTITION BY user_id ORDER BY ts, item_id) AS rn
        |         FROM ratings)
        |, tr2 AS (SELECT a.item_id AS prev2, b.item_id AS prev1, c.item_id AS nxt
        |          FROM sq a JOIN sq b ON a.user_id = b.user_id AND b.rn = a.rn + 1
        |                    JOIN sq c ON a.user_id = c.user_id AND c.rn = a.rn + 2
        |          WHERE c.item_id <> b.item_id)
        |, tk2 AS (SELECT prev2, prev1, nxt, cnt FROM (
        |    SELECT prev2, prev1, nxt, COUNT(*) AS cnt,
        |           row_number() OVER (PARTITION BY prev2, prev1
        |                              ORDER BY COUNT(*) DESC, nxt) AS rn
        |    FROM tr2 GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2) WHERE rn <= 5)
        |, tr1 AS (SELECT a.item_id AS prev, b.item_id AS nxt
        |          FROM sq a JOIN sq b ON a.user_id = b.user_id AND b.rn = a.rn + 1
        |          WHERE a.item_id <> b.item_id)
        |, tk1 AS (SELECT prev, nxt, cnt FROM (
        |    SELECT prev, nxt, COUNT(*) AS cnt,
        |           row_number() OVER (PARTITION BY prev ORDER BY COUNT(*) DESC, nxt) AS rn
        |    FROM tr1 GROUP BY 1, 2 HAVING COUNT(*) >= 2) WHERE rn <= 5)
        |, lastq AS (SELECT user_id, item_id, rnk FROM (
        |    SELECT user_id, item_id,
        |           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, item_id) AS rnk
        |    FROM ratings) WHERE rnk <= 2)
        |, ctx AS (SELECT l1.user_id, l2.item_id AS prev2, l1.item_id AS prev1
        |          FROM lastq l1 JOIN lastq l2
        |            ON l1.user_id = l2.user_id AND l1.rnk = 1 AND l2.rnk = 2)
        |, c2 AS (SELECT x.user_id, t.nxt AS item_id, t.cnt, 2 AS ord
        |         FROM ctx x JOIN tk2 t ON t.prev2 = x.prev2 AND t.prev1 = x.prev1
        |         WHERE NOT EXISTS (SELECT 1 FROM ratings r
        |                           WHERE r.user_id = x.user_id AND r.item_id = t.nxt))
        |, c1 AS (SELECT l.user_id, t.nxt AS item_id, t.cnt, 1 AS ord
        |         FROM lastq l JOIN tk1 t ON t.prev = l.item_id AND l.rnk = 1
        |         WHERE NOT EXISTS (SELECT 1 FROM ratings r
        |                           WHERE r.user_id = l.user_id AND r.item_id = t.nxt)
        |           AND NOT EXISTS (SELECT 1 FROM c2 WHERE c2.user_id = l.user_id))
        |, uni AS (SELECT * FROM c2 UNION ALL SELECT * FROM c1)
        |SELECT user_id, item_id, cnt, ord, CAST(rn AS INT) AS rank FROM (
        |  SELECT user_id, item_id, cnt, ord,
        |         row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, item_id) AS rn
        |  FROM uni) WHERE rn <= 5""".stripMargin),

    // PMI: q134's per-offset zip-unnest pairs aggregated over offsets,
    // unigrams over the same filtered stream, q12's round-6 log2
    "q156_pmi" ->
      """WITH w AS (SELECT list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS ws
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
        |FROM pc JOIN uni ul ON ul.w = wl JOIN uni ur ON ur.w = wr, tot""".stripMargin,

    // k-truss: 8 unrolled peel rounds, every round CTE MATERIALIZED
    // (the q145 optimizer rule); triangles close by the (a, b) edge
    // join, each credits its three edges
    "q153_ktruss" -> (R + itemProjSql + trussRoundsSql(4, 8) +
      "\nSELECT u AS item_a, v AS item_b, support FROM s8"),

    // linear attribution: the oracle affords the raw theta join; the
    // Spark side bins (user, time) — same matches exactly
    "q154_linear_attribution" ->
      """WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS conversion_ms
        |           FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, event_id AS touch_id, event_type AS touch_type,
        |             epoch_ms(ts) AS touch_ms
        |      FROM events WHERE event_type IN ('view', 'click')),
        |m AS (SELECT p.event_id, p.user_id, p.conversion_ms,
        |             t.touch_id, t.touch_type, t.touch_ms
        |      FROM p JOIN t ON p.user_id = t.user_id
        |        AND t.touch_ms BETWEEN p.conversion_ms - 21600000 AND p.conversion_ms),
        |n AS (SELECT event_id, COUNT(*) AS n FROM m GROUP BY 1)
        |SELECT m.event_id, m.user_id, m.conversion_ms, m.touch_id, m.touch_type,
        |       m.touch_ms, 1000000 // n.n AS credit_e6
        |FROM m JOIN n USING (event_id)""".stripMargin,

    // time-decay attribution: the q154 frame with power-of-two
    // half-life-bucket weights (`<<` exact on BIGINT both engines)
    "q159_timedecay_attribution" ->
      """WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS conversion_ms
        |           FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, event_id AS touch_id, event_type AS touch_type,
        |             epoch_ms(ts) AS touch_ms
        |      FROM events WHERE event_type IN ('view', 'click')),
        |m AS (SELECT p.event_id, p.user_id, p.conversion_ms,
        |             t.touch_id, t.touch_type, t.touch_ms,
        |             1000000 // (CAST(1 AS BIGINT) <<
        |               CAST(LEAST((p.conversion_ms - t.touch_ms) // 3600000, 40) AS INT)) AS w_e6
        |      FROM p JOIN t ON p.user_id = t.user_id
        |        AND t.touch_ms BETWEEN p.conversion_ms - 21600000 AND p.conversion_ms),
        |w AS (SELECT event_id, CAST(SUM(w_e6) AS BIGINT) AS tw FROM m GROUP BY 1)
        |SELECT m.event_id, m.user_id, m.conversion_ms, m.touch_id, m.touch_type,
        |       m.touch_ms, CAST(m.w_e6 AS BIGINT) AS w_e6,
        |       CASE WHEN w.tw > 0 THEN CAST(m.w_e6 * 1000000 // w.tw AS BIGINT)
        |            ELSE 0 END AS credit_e6
        |FROM m JOIN w USING (event_id)""".stripMargin,

    // exact global percentiles: the INDEPENDENT builtin, not a replay
    // of the engine's selection algorithm (interpolation parity:
    // lo*(1-frac)+hi*frac, probed bit-equal)
    "q160_global_percentile" ->
      """SELECT CAST(0.25 AS DOUBLE) AS q,
        |       quantile_cont(l_extendedprice, 0.25) AS value FROM lineitem
        |UNION ALL SELECT 0.5, quantile_cont(l_extendedprice, 0.5) FROM lineitem
        |UNION ALL SELECT 0.9, quantile_cont(l_extendedprice, 0.9) FROM lineitem
        |UNION ALL SELECT 0.99, quantile_cont(l_extendedprice, 0.99) FROM lineitem""".stripMargin,

    // truss decomposition: the bounded unrolled peel (id-ordered
    // wedges — support is orientation-invariant, see q153)
    "q161_trussness" -> (R + itemProjSqlAt(3) + trussnessRoundsSql(8, 16)),

    // bucketed trending: absolute half-life buckets, per-item newest-41
    // retention, bucket-index-age decay against the global max bucket
    "q163_trending_buckets" -> (R +
      """, b AS (SELECT item_id, ts // 2592000000 AS bucket, COUNT(*) AS n
        |        FROM ratings GROUP BY 1, 2),
        |bm AS (SELECT item_id, MAX(bucket) AS mb FROM b GROUP BY 1),
        |kept AS (SELECT b.item_id, b.bucket, b.n FROM b JOIN bm USING (item_id)
        |         WHERE b.bucket > bm.mb - 41),
        |gm AS (SELECT MAX(bucket) AS g FROM kept)
        |SELECT item_id,
        |       CAST(SUM(n * (1000000 // (CAST(1 AS BIGINT) <<
        |         CAST(LEAST(g - bucket, 40) AS INT)))) AS BIGINT) AS score_e6,
        |       CAST(SUM(n) AS BIGINT) AS n
        |FROM kept, gm GROUP BY item_id
        |ORDER BY score_e6 DESC, item_id LIMIT 20""".stripMargin),

    // ANN index replays (r11 golden→replay conversion; AnnReplaySql):
    // q22's LSH hyperplanes are data-independent seeded constants;
    // q52's centroids are stashed from the run's own KMeans fit
    "q22_ann_lsh" -> graft.oracle.AnnReplaySql.q22Sql,
    "q52_ann_ivf" -> Option(ivfCentroidStash)
      .map(graft.oracle.AnnReplaySql.q52Sql(_, nProbe = 16))
      .getOrElse {
        // ordering contract: the q52 query must run in this JVM before the
        // oracle dump (it stashes its KMeans centroids). A full Verify run
        // does that; fail HERE, at the cause, instead of emitting sentinel
        // SQL that mismatches rows far away. Exception: a targeted
        // SPARK_GRAFT_ONLY subset that excludes q52 still gets the sentinel
        // so subset iteration keeps working.
        if (sys.env.contains("SPARK_GRAFT_ONLY"))
          "SELECT 1 AS q52_not_run_this_dump -- q52 query must run before the oracle dump"
        else throw new IllegalStateException(
          "q52_ann_ivf oracle SQL needs the IVF centroids stashed by the q52 " +
            "query run — evaluate SparkEntry.queries(\"q52_ann_ivf\") in this " +
            "JVM before dumping oracleSql (Verify does this; keep that order)")
      },

    // golden-file oracle, q41 scheme (regenerate with
    // `runMain graft.GoldenGen q162_bpr_recs <sfdirs...>`)
    "q162_bpr_recs" -> (R +
      """SELECT user_id, item_id, rank
        |FROM '/root/repo/goldens/q162_bpr_recs.parquet'
        |WHERE n_ratings = (SELECT COUNT(*) FROM ratings)""".stripMargin),

    "q164_als_recs" -> (R +
      """SELECT user_id, item_id, rank
        |FROM '/root/repo/goldens/q164_als_recs.parquet'
        |WHERE n_ratings = (SELECT COUNT(*) FROM ratings)""".stripMargin),

    "q168_als_implicit_recs" -> (R +
      """SELECT user_id, item_id, rank
        |FROM '/root/repo/goldens/q168_als_implicit_recs.parquet'
        |WHERE n_ratings = (SELECT COUNT(*) FROM ratings)""".stripMargin),

    "q176_item2vec_recs" -> (R +
      """SELECT user_id, item_id, rank
        |FROM '/root/repo/goldens/q176_item2vec_recs.parquet'
        |WHERE n_ratings = (SELECT COUNT(*) FROM ratings)""".stripMargin),

    // A-ES weighted reservoir: the e-12-quantized ln(u)/w key is an
    // exact-integer order both engines compute identically (the md5 →
    // 52-bit uniform scheme of q31's portable hash)
    "q169_weighted_sample" ->
      """WITH k AS (SELECT o_orderkey, o_totalprice,
        |  CAST(round(ln((('0x'||substr(md5(CAST(o_orderkey AS VARCHAR)||'|42'),1,13))::UBIGINT + 1)
        |       / 4503599627370497.0) / CAST(o_totalprice AS DOUBLE) * 1e12) AS BIGINT) AS key
        |  FROM orders WHERE o_totalprice > 0)
        |SELECT o_orderkey, o_totalprice,
        |       ROW_NUMBER() OVER (ORDER BY key DESC, o_orderkey) AS rank
        |FROM k QUALIFY rank <= 500""".stripMargin,

    "q170_weighted_sample_stratified" ->
      """WITH k AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  CAST(round(ln((('0x'||substr(md5(CAST(o_orderkey AS VARCHAR)||'|7'),1,13))::UBIGINT + 1)
        |       / 4503599627370497.0) / CAST(o_totalprice AS DOUBLE) * 1e12) AS BIGINT) AS key
        |  FROM orders WHERE o_totalprice > 0)
        |SELECT o_orderpriority, o_orderkey, o_totalprice,
        |       ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |                          ORDER BY key DESC, o_orderkey) AS rank
        |FROM k QUALIFY rank <= 50""".stripMargin,

    // ECDF: the monolithic window form DuckDB can afford
    "q167_global_ecdf" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, rn,
        |       rn * 1000000 // n_total AS pct_e6
        |FROM (SELECT l_orderkey, l_linenumber, l_extendedprice,
        |        ROW_NUMBER() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
        |        COUNT(*) OVER () AS n_total
        |      FROM lineitem)""".stripMargin,

    // recency feature: same bucket rollup + 40-offset join + strictly-
    // earlier same-bucket window, all exact ints
    "q166_recency_feature" -> (R +
      """, ev AS (SELECT user_id, item_id, ts, ts // 2592000000 AS b FROM ratings)
        |, counts AS (SELECT user_id, b AS bj, COUNT(*) AS n FROM ev GROUP BY 1, 2)
        |, same AS (SELECT user_id, item_id, ts, b,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, b ORDER BY ts, item_id) - 1 AS prior_same
        |  FROM ev)
        |, dec AS (SELECT s.user_id, s.item_id,
        |    CAST(SUM(c.n * (1000000 // (CAST(1 AS BIGINT) << CAST(t.k AS INT)))) AS BIGINT) AS decay
        |  FROM same s
        |  JOIN range(1, 41) t(k) ON TRUE
        |  JOIN counts c ON c.user_id = s.user_id AND c.bj = s.b - t.k
        |  GROUP BY 1, 2)
        |SELECT s.user_id, s.item_id, s.ts,
        |       CAST(1000000 * s.prior_same + COALESCE(d.decay, 0) AS BIGINT) AS prior_e6
        |FROM same s LEFT JOIN dec d
        |  ON d.user_id = s.user_id AND d.item_id = s.item_id""".stripMargin),

    // frequent triples: the identical a-priori pair-pruned 3-way join
    "q165_frequent_triples" -> (R +
      """, rel AS (SELECT user_id, item_id FROM (
        |    SELECT user_id, item_id,
        |           row_number() OVER (PARTITION BY user_id ORDER BY rating DESC, item_id) AS rn
        |    FROM ratings WHERE rating >= 4.0) WHERE rn <= 50)
        |, pairs AS (SELECT a.item_id AS x, b.item_id AS y
        |    FROM rel a JOIN rel b ON a.user_id = b.user_id AND a.item_id < b.item_id
        |    GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT a AS item_a, b AS item_b, c AS item_c, support FROM (
        |  SELECT r1.item_id AS a, r2.item_id AS b, r3.item_id AS c,
        |         CAST(COUNT(*) AS BIGINT) AS support
        |  FROM rel r1
        |  JOIN rel r2 ON r1.user_id = r2.user_id AND r1.item_id < r2.item_id
        |  JOIN pairs pab ON pab.x = r1.item_id AND pab.y = r2.item_id
        |  JOIN rel r3 ON r2.user_id = r3.user_id AND r2.item_id < r3.item_id
        |  JOIN pairs pbc ON pbc.x = r2.item_id AND pbc.y = r3.item_id
        |  JOIN pairs pac ON pac.x = r1.item_id AND pac.y = r3.item_id
        |  GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2)
        |""".stripMargin),

    // baseline predictor: same shrunk-bias integer arithmetic (both
    // engines truncate div toward zero on NEGATIVE dividends — probed
    // −7 // 2 = −3 in DuckDB and −7 div 2 = −3 in Spark)
    "q152_baseline_mse" -> (R +
      """, kf AS (SELECT user_id, item_id, rating,
        |         NTILE(5) OVER (PARTITION BY user_id ORDER BY item_id) AS fold FROM ratings)
        |, train AS (SELECT user_id, item_id, CAST(rating * 1000000 AS BIGINT) AS r FROM kf WHERE fold <> 1)
        |, test AS (SELECT user_id, item_id, CAST(rating * 1000000 AS BIGINT) AS r FROM kf WHERE fold = 1)
        |, mu AS (SELECT CAST(SUM(r) AS BIGINT) // COUNT(*) AS mu FROM train)
        |, bu AS (SELECT user_id, CAST(SUM(r - mu) AS BIGINT) // (10 + COUNT(*)) AS bu
        |         FROM train, mu GROUP BY 1, mu.mu)
        |, bi AS (SELECT item_id, CAST(SUM(t.r - mu - bu.bu) AS BIGINT) // (25 + COUNT(*)) AS bi
        |         FROM train t JOIN bu USING (user_id), mu GROUP BY 1, mu.mu)
        |, pred AS (SELECT t.user_id, t.r,
        |             GREATEST(1000000, LEAST(5000000,
        |               mu + COALESCE(bu.bu, 0) + COALESCE(bi.bi, 0))) AS p
        |           FROM test t LEFT JOIN bu ON bu.user_id = t.user_id
        |                       LEFT JOIN bi ON bi.item_id = t.item_id, mu)
        |SELECT user_id, COUNT(*) AS n_test,
        |       CAST(SUM((r - p) * (r - p)) AS BIGINT) // COUNT(*) AS mse_e12
        |FROM pred GROUP BY 1""".stripMargin),

    // userKNN: the transposed chain — per-user cap, then per-item
    // rater cap, user-pair Jaccard, neighbor-vote scores
    "q151_userknn_recs" -> (R +
      """, urel AS (SELECT user_id, item_id, rating FROM (
        |    SELECT user_id, item_id, rating,
        |           row_number() OVER (PARTITION BY user_id ORDER BY rating DESC, item_id) AS rn
        |    FROM ratings WHERE rating >= 4.0) WHERE rn <= 50)
        |, urel2 AS (SELECT user_id, item_id FROM (
        |    SELECT user_id, item_id,
        |           row_number() OVER (PARTITION BY item_id ORDER BY rating DESC, user_id) AS rn
        |    FROM urel) WHERE rn <= 50)
        |, udeg AS (SELECT user_id, COUNT(*) AS deg FROM urel2 GROUP BY 1)
        |, ucooc AS (SELECT a.user_id AS user_a, b.user_id AS user_b, COUNT(*) AS cooc
        |            FROM urel2 a JOIN urel2 b ON a.item_id = b.item_id AND a.user_id < b.user_id
        |            GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |, usims AS (SELECT user_a, user_b, cooc * 1000000 // (da.deg + db.deg - cooc) AS sim
        |            FROM ucooc JOIN udeg da ON da.user_id = user_a
        |                       JOIN udeg db ON db.user_id = user_b)
        |, unbrs AS (SELECT user_id, nbr_id, sim FROM (
        |    SELECT user_id, nbr_id, sim,
        |           row_number() OVER (PARTITION BY user_id ORDER BY sim DESC, nbr_id) AS rn
        |    FROM (SELECT user_a AS user_id, user_b AS nbr_id, sim FROM usims
        |          UNION ALL SELECT user_b, user_a, sim FROM usims)) WHERE rn <= 10)
        |, ucand AS (SELECT n.user_id, r.item_id, CAST(SUM(n.sim) AS BIGINT) AS score
        |            FROM unbrs n JOIN urel2 r ON r.user_id = n.nbr_id GROUP BY 1, 2)
        |, uunseen AS (SELECT c.user_id, c.item_id, c.score FROM ucand c
        |              WHERE NOT EXISTS (SELECT 1 FROM ratings s
        |                                WHERE s.user_id = c.user_id AND s.item_id = c.item_id))
        |SELECT user_id, item_id, score, CAST(rn AS INT) AS rank FROM (
        |  SELECT user_id, item_id, score,
        |         row_number() OVER (PARTITION BY user_id ORDER BY score DESC, item_id) AS rn
        |  FROM uunseen) WHERE rn <= 5""".stripMargin),

    // trending: the same bucketed half-life weights (`<<` is exact on
    // BIGINT in both engines), global top-20
    "q149_trending" -> (R +
      """, mx AS (SELECT MAX(ts) AS mx FROM ratings)
        |SELECT item_id,
        |       CAST(SUM(1000000 // (CAST(1 AS BIGINT) << CAST(LEAST((mx - ts) // 2592000000, 40) AS INT))) AS BIGINT) AS score_e6,
        |       COUNT(*) AS n
        |FROM ratings, mx GROUP BY item_id
        |ORDER BY score_e6 DESC, item_id LIMIT 20""".stripMargin),

    // covisitation: the capped-rel pair join with the 90-day window
    // predicate, symmetrized, per-item top-5
    "q150_covisitation" -> (R +
      """, rel AS (SELECT user_id, item_id, ts FROM (
        |    SELECT user_id, item_id, ts,
        |           row_number() OVER (PARTITION BY user_id ORDER BY rating DESC, item_id) AS rn
        |    FROM ratings WHERE rating >= 4.0) WHERE rn <= 50)
        |, prs AS (SELECT a.item_id AS item_a, b.item_id AS item_b, COUNT(*) AS cnt
        |          FROM rel a JOIN rel b ON a.user_id = b.user_id AND a.item_id < b.item_id
        |            AND abs(a.ts - b.ts) <= 7776000000
        |          GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT item_id, covis_id, cnt, CAST(rn AS INT) AS rank FROM (
        |  SELECT item_id, covis_id, cnt,
        |         row_number() OVER (PARTITION BY item_id ORDER BY cnt DESC, covis_id) AS rn
        |  FROM (SELECT item_a AS item_id, item_b AS covis_id, cnt FROM prs
        |        UNION ALL SELECT item_b, item_a, cnt FROM prs)) WHERE rn <= 5""".stripMargin),

    // negative sampling: dense index = ROW_NUMBER over distinct items
    // (DuckDB's single sort IS the oracle's luxury; the Spark side
    // decomposes it), then the same md5-mod draws, min-first-draw
    // dedup, anti-join, rank
    "q148_negative_sampling" -> (R +
      """, it AS (SELECT item_id, ROW_NUMBER() OVER (ORDER BY item_id) AS idx
        |         FROM (SELECT DISTINCT item_id FROM ratings))
        |, nit AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM it)
        |, draws AS (SELECT user_id, t.i
        |            FROM (SELECT DISTINCT user_id FROM ratings),
        |                 UNNEST(generate_series(1, 12)) AS t(i))
        |, cand AS (SELECT d.user_id, d.i,
        |             CAST(('0x' || substring(md5(CAST(d.user_id AS VARCHAR) || '|' ||
        |                    CAST(d.i AS VARCHAR) || '|' || '11'), 1, 8)) AS BIGINT) % n + 1 AS idx
        |           FROM draws d, nit)
        |, mapped AS (SELECT c.user_id, it.item_id, MIN(c.i) AS fi
        |             FROM cand c JOIN it USING (idx) GROUP BY 1, 2)
        |, unseen AS (SELECT m.user_id, m.item_id, m.fi FROM mapped m
        |             WHERE NOT EXISTS (SELECT 1 FROM ratings r
        |                               WHERE r.user_id = m.user_id AND r.item_id = m.item_id))
        |SELECT user_id, item_id, CAST(rn AS INT) AS neg_rank FROM (
        |  SELECT user_id, item_id,
        |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY fi, item_id) AS rn
        |  FROM unseen) WHERE rn <= 4""".stripMargin),

    // leakage-safe split: q37's recursive-CC labeling + the q84 md5
    // bucket arithmetic on the CLUSTER id
    "q147_leakage_safe_split" -> (minhashCtes(8, 2).replace("WITH ", "WITH RECURSIVE ") +
      """,
        |pairs AS (SELECT i.doc_a, i.doc_b FROM inter i
        |          JOIN cnt ca ON ca.doc_id = i.doc_a JOIN cnt cb ON cb.doc_id = i.doc_b
        |          WHERE ni * 1.0 / (ca.n + cb.n - ni) >= 0.8),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |cc AS (SELECT doc_id AS node, doc_id AS comp FROM documents
        |       UNION SELECT e.b, cc.comp FROM cc JOIN edges e ON cc.node = e.a),
        |lbl AS (SELECT node AS doc_id, MIN(comp) AS cluster_id FROM cc GROUP BY node)
        |SELECT doc_id, cluster_id,
        |       (CAST(('0x' || substring(md5(CAST(cluster_id AS VARCHAR) || '|' || '7'), 1, 8)) AS BIGINT) % 5) = 0 AS is_test
        |FROM lbl""".stripMargin),

    // serendipity: the q142 frame + the popularity primitive (popSql
    // replicated p-prefixed over the k-fold train — the chain already
    // owns `cand`); relevant-and-unexpected counted per user
    "q146_serendipity" -> (R +
      """, kf AS (SELECT user_id, item_id, rating,
        |         NTILE(5) OVER (PARTITION BY user_id ORDER BY item_id) AS fold FROM ratings)
        |, train AS (SELECT user_id, item_id, rating FROM kf WHERE fold <> 1)
        |, test AS (SELECT user_id, item_id, rating FROM kf WHERE fold = 1)""".stripMargin
      + itemKnnChain("train", 5, "krel") +
      """, ppop AS (SELECT item_id, COUNT(*) AS cnt FROM train GROUP BY 1)
        |, pmaxr AS (SELECT MAX(c) AS m FROM (SELECT COUNT(*) AS c FROM train GROUP BY user_id))
        |, pcand AS (SELECT item_id, cnt FROM (
        |    SELECT item_id, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, item_id) AS pr FROM ppop)
        |  WHERE pr <= (SELECT m + 5 FROM pmaxr))
        |, precs AS (SELECT user_id, item_id FROM (
        |    SELECT u.user_id, c.item_id,
        |           ROW_NUMBER() OVER (PARTITION BY u.user_id ORDER BY c.cnt DESC, c.item_id) AS prank
        |    FROM (SELECT DISTINCT user_id FROM train) u CROSS JOIN pcand c
        |    WHERE NOT EXISTS (SELECT 1 FROM train t
        |                      WHERE t.user_id = u.user_id AND t.item_id = c.item_id))
        |  WHERE prank <= 5)
        |, qual AS (SELECT DISTINCT user_id FROM test WHERE rating >= 4.0)
        |, ser AS (SELECT k.user_id,
        |            CAST(SUM(CASE WHEN p.item_id IS NULL AND x.item_id IS NOT NULL
        |                          THEN 1 ELSE 0 END) AS BIGINT) AS n_serendip
        |          FROM knn k JOIN qual q ON q.user_id = k.user_id
        |          LEFT JOIN precs p ON p.user_id = k.user_id AND p.item_id = k.item_id
        |          LEFT JOIN (SELECT user_id, item_id FROM test WHERE rating >= 4.0) x
        |            ON x.user_id = k.user_id AND x.item_id = k.item_id
        |          GROUP BY 1)
        |SELECT user_id, n_serendip, n_serendip * 1000000 // 5 AS ser_e6 FROM ser""".stripMargin),

    // coreness: the same 20 h-index rounds unrolled. Every round CTE
    // is MATERIALIZED — DuckDB's optimizer explodes on deep inlined
    // single-reference CTE chains (20 inlined rounds planned >300 s;
    // materialized, 0.2 s) — the q125 lesson's optimizer-side sibling
    "q145_coreness" -> (R + itemProjSql + corenessRoundsSql(20) +
      "\nSELECT n AS item_id, c AS coreness FROM c20"),

    // RA: the q128 wedge replay with the center's degree carried into
    // the aggregation — Σ 10⁶ // deg(c) alongside the cn count
    "q143_resource_allocation" -> (R + itemProjSql +
      """, capped AS (
        |  SELECT adj.c, adj.x, gdeg.deg AS cdeg FROM (
        |    SELECT u AS c, v AS x FROM edges UNION ALL SELECT v, u FROM edges) adj
        |  JOIN gdeg ON gdeg.node = adj.c AND gdeg.deg <= 40)
        |, wedges AS (
        |  SELECT l.x AS a, r.x AS b, CAST(COUNT(*) AS BIGINT) AS cn,
        |         CAST(SUM(1000000 // l.cdeg) AS BIGINT) AS ra_e6
        |  FROM capped l JOIN capped r ON l.c = r.c AND l.x < r.x
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT w.a AS item_a, w.b AS item_b, cn, ra_e6
        |FROM wedges w
        |  ANTI JOIN edges ON edges.u = w.a AND edges.v = w.b""".stripMargin),

    // unrolled min-after-min: step i's first completion is the MIN
    // step-i event strictly after step i-1's completion — equals the
    // Spark side's sorted-array walk (first qualifying event in
    // ascending order IS that min; slots never overwrite)
    "q129_funnel" -> funnelSql,

    // the stateful kernel invoked in batch mode == the batch walk
    // (one group pass, empty initial state) — same replay
    "q136_funnel_stateful" -> funnelSql,

    // the horizon form: t2/t3 additionally bounded by t1 + 24h (the
    // anchor is the earliest view — greedy, same as the Spark walk)
    "q140_funnel_horizon" ->
      """WITH ev AS (SELECT user_id, epoch_ms(ts) AS ms, event_type AS et FROM events
        |            WHERE event_type IN ('view', 'click', 'purchase')),
        |s1 AS (SELECT user_id, MIN(ms) AS t1 FROM ev WHERE et = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(ms) AS t2 FROM ev e JOIN s1 USING (user_id)
        |       WHERE et = 'click' AND ms > t1 AND ms <= t1 + 86400000 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(ms) AS t3 FROM ev e JOIN s2 USING (user_id) JOIN s1 USING (user_id)
        |       WHERE et = 'purchase' AND ms > t2 AND ms <= t1 + 86400000 GROUP BY 1)
        |SELECT u.user_id,
        |       COALESCE(t1, -1) AS view_ms, COALESCE(t2, -1) AS click_ms,
        |       COALESCE(t3, -1) AS purchase_ms,
        |       CAST(t1 IS NOT NULL AS INT) + CAST(t2 IS NOT NULL AS INT)
        |         + CAST(t3 IS NOT NULL AS INT) AS stage
        |FROM (SELECT DISTINCT user_id FROM ev) u
        |LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |LEFT JOIN s3 USING (user_id)""".stripMargin,

    // DuckDB native ASOF LEFT JOIN replay (the q77 precedent) over
    // (user, ms)-collapsed touches; lookback applied post-match
    "q141_attribution" ->
      """WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS conversion_ms
        |           FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, epoch_ms(ts) AS ms, MAX(event_id) AS touch_id,
        |             ARG_MAX(event_type, event_id) AS touch_type
        |      FROM events WHERE event_type IN ('view', 'click') GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, p.conversion_ms,
        |       CASE WHEN t.ms >= p.conversion_ms - 21600000 THEN t.touch_id END AS touch_id,
        |       CASE WHEN t.ms >= p.conversion_ms - 21600000 THEN t.touch_type END AS touch_type,
        |       CASE WHEN t.ms >= p.conversion_ms - 21600000 THEN t.ms END AS touch_ms
        |FROM p ASOF LEFT JOIN t
        |  ON p.user_id = t.user_id AND p.conversion_ms >= t.ms""".stripMargin,

    "q130_inverted_index" ->
      """WITH tf AS (
        |  SELECT t AS term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf FROM (
        |    SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
        |                                      x -> len(x) > 0)) AS t
        |    FROM documents) GROUP BY 1, 2)
        |SELECT term, doc_id // 64 AS shard, CAST(COUNT(*) AS BIGINT) AS df,
        |       string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
        |FROM tf GROUP BY 1, 2""".stripMargin,

    "q131_cohort_retention" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS w FROM events),
        |coh AS (SELECT user_id, MIN(w) AS cw FROM act GROUP BY 1)
        |SELECT cw AS cohort_week, w - cw AS week_offset,
        |       CAST(COUNT(*) AS BIGINT) AS users
        |FROM act JOIN coh USING (user_id) GROUP BY 1, 2""".stripMargin,

    // same two chained windows; "next row starts a new session" is
    // the session-exit test (sessions are contiguous per-user runs)
    "q132_session_transitions" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events),
        |s AS (SELECT user_id, event_id, event_type, ms,
        |        CASE WHEN ms - LAG(ms) OVER w > 1800000
        |               OR LAG(ms) OVER w IS NULL THEN 1 ELSE 0 END AS new
        |      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |t AS (SELECT event_type AS f, new,
        |        LEAD(event_type) OVER w AS nt, LEAD(new) OVER w AS nn
        |      FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |edges AS (
        |  SELECT f AS from_type,
        |         CASE WHEN nn IS NULL OR nn = 1 THEN '$' ELSE nt END AS to_type
        |  FROM t
        |  UNION ALL
        |  SELECT '^', f FROM t WHERE new = 1)
        |SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        |FROM edges GROUP BY 1, 2""".stripMargin,

    // per-offset zip-unnest slices (ws[1:n-d] zipped against
    // ws[1+d:n]); `offset` is a DuckDB keyword, hence `dist`
    "q134_cooccurrence" ->
      """WITH w AS (SELECT list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS ws
        |           FROM documents),
        |pairs AS (
        |  SELECT unnest(ws[1:len(ws)-1]) AS w_left, unnest(ws[2:len(ws)]) AS w_right,
        |         1 AS dist FROM w WHERE len(ws) > 1
        |  UNION ALL
        |  SELECT unnest(ws[1:len(ws)-2]), unnest(ws[3:len(ws)]), 2 FROM w WHERE len(ws) > 2
        |  UNION ALL
        |  SELECT unnest(ws[1:len(ws)-3]), unnest(ws[4:len(ws)]), 3 FROM w WHERE len(ws) > 3)
        |SELECT w_left, w_right, dist, CAST(COUNT(*) AS BIGINT) AS n
        |FROM pairs GROUP BY 1, 2, 3 HAVING COUNT(*) >= 5""".stripMargin,

    // trailing window EXCLUDES the current hour (a burst can't
    // dilute its own baseline); partial baselines emit rate -1
    "q135_rate_bursts" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_ms(ts) // 3600000 AS hour,
        |         CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |sc AS (
        |  SELECT event_type, hour, cnt,
        |         CAST(SUM(cnt) OVER w AS BIGINT) AS trail,
        |         COUNT(*) OVER w AS nw
        |  FROM hourly
        |  WINDOW w AS (PARTITION BY event_type ORDER BY hour
        |               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, hour, cnt,
        |  CASE WHEN nw < 24 OR trail = 0 THEN -1
        |       ELSE cnt * 24 * 10000 // trail END AS rate_e4,
        |  CASE WHEN nw >= 24 AND trail > 0
        |            AND cnt * 24 * 10000 // trail >= 30000 THEN 1
        |       ELSE 0 END AS is_burst
        |FROM sc""".stripMargin
  )

  /** DuckDB replay of the view→click→purchase funnel — shared by the
    * batch walk (q129) and the stateful kernel in batch mode (q136). */
  private lazy val funnelSql: String =
    """WITH ev AS (SELECT user_id, epoch_ms(ts) AS ms, event_type AS et FROM events
      |            WHERE event_type IN ('view', 'click', 'purchase')),
      |s1 AS (SELECT user_id, MIN(ms) AS t1 FROM ev WHERE et = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, MIN(ms) AS t2 FROM ev e JOIN s1 USING (user_id)
      |       WHERE et = 'click' AND ms > t1 GROUP BY 1),
      |s3 AS (SELECT e.user_id, MIN(ms) AS t3 FROM ev e JOIN s2 USING (user_id)
      |       WHERE et = 'purchase' AND ms > t2 GROUP BY 1)
      |SELECT u.user_id,
      |       COALESCE(t1, -1) AS view_ms, COALESCE(t2, -1) AS click_ms,
      |       COALESCE(t3, -1) AS purchase_ms,
      |       CAST(t1 IS NOT NULL AS INT) + CAST(t2 IS NOT NULL AS INT)
      |         + CAST(t3 IS NOT NULL AS INT) AS stage
      |FROM (SELECT DISTINCT user_id FROM ev) u
      |LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
      |LEFT JOIN s3 USING (user_id)""".stripMargin

  /** The full q123 itemKNN pipeline as CTEs ending in `knn` =
    * (user_id, item_id, score, rank ≤ 5) — shared by the itemKNN
    * (q123), RRF-fusion (q133), coverage/Gini (q137) and novelty/ILD
    * (q138) oracles. */
  private lazy val itemKnnChainSql: String = itemKnnChain("ratings", 5, "rel")

  /** [[itemKnnChainSql]] parameterized: interaction source table,
    * final recommendation cutoff, and the name of the capped-relevant
    * CTE (renameable so composed oracles — the q142 k-fold experiment
    * — can still use `rel` for the metric CTEs of [[relSql]]). */
  private def itemKnnChain(src: String, kRecs: Int, relName: String): String =
    s""", $relName AS (
      |  SELECT user_id, item_id FROM (
      |    SELECT user_id, item_id,
      |           row_number() OVER (PARTITION BY user_id ORDER BY rating DESC, item_id) AS rn
      |    FROM $src WHERE rating >= 4.0)
      |  WHERE rn <= 50
      |), ideg AS (
      |  SELECT item_id, count(*) AS deg FROM $relName GROUP BY 1
      |), cooc AS (
      |  SELECT a.item_id AS item_a, b.item_id AS item_b, count(*) AS cooc
      |  FROM $relName a JOIN $relName b ON a.user_id = b.user_id AND a.item_id < b.item_id
      |  GROUP BY 1, 2 HAVING count(*) >= 2
      |), sims AS (
      |  SELECT item_a, item_b, cooc * 1000000 // (da.deg + db.deg - cooc) AS sim
      |  FROM cooc
      |  JOIN ideg da ON da.item_id = item_a
      |  JOIN ideg db ON db.item_id = item_b
      |), nbrs AS (
      |  SELECT item_id, nbr_id, sim FROM (
      |    SELECT item_id, nbr_id, sim,
      |           row_number() OVER (PARTITION BY item_id ORDER BY sim DESC, nbr_id) AS rn
      |    FROM (SELECT item_a AS item_id, item_b AS nbr_id, sim FROM sims
      |          UNION ALL
      |          SELECT item_b AS item_id, item_a AS nbr_id, sim FROM sims))
      |  WHERE rn <= 10
      |), cand AS (
      |  SELECT r.user_id, n.nbr_id AS item_id, CAST(SUM(n.sim) AS BIGINT) AS score
      |  FROM $relName r JOIN nbrs n ON n.item_id = r.item_id
      |  GROUP BY 1, 2
      |), unseen AS (
      |  SELECT c.user_id, c.item_id, c.score FROM cand c
      |  WHERE NOT EXISTS (SELECT 1 FROM $src s
      |                    WHERE s.user_id = c.user_id AND s.item_id = c.item_id)
      |), knn AS (
      |  SELECT user_id, item_id, score, CAST(rn AS INT) AS rank FROM (
      |    SELECT user_id, item_id, score,
      |           row_number() OVER (PARTITION BY user_id ORDER BY score DESC, item_id) AS rn
      |    FROM unseen) WHERE rn <= $kRecs
      |)""".stripMargin

  /** The capped-relevant item co-interaction projection (q123's rel,
    * parameterized min co-occurrence, full-graph degrees) — shared by
    * the triangle (q124), link-prediction (q128) and trussness (q161)
    * oracles. */
  private def itemProjSqlAt(minCooc: Int): String =
    s""", rel AS (
      |  SELECT user_id, item_id FROM (
      |    SELECT user_id, item_id,
      |           row_number() OVER (PARTITION BY user_id ORDER BY rating DESC, item_id) AS rn
      |    FROM ratings WHERE rating >= 4.0) WHERE rn <= 50
      |), edges AS (
      |  SELECT a.item_id AS u, b.item_id AS v
      |  FROM rel a JOIN rel b ON a.user_id = b.user_id AND a.item_id < b.item_id
      |  GROUP BY 1, 2 HAVING count(*) >= $minCooc
      |), gdeg AS (
      |  SELECT node, count(*) AS deg FROM (
      |    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges) GROUP BY 1
      |)""".stripMargin

  private lazy val itemProjSql: String = itemProjSqlAt(2)

  /** Unrolled bounded truss-DECOMPOSITION peel over the `edges` CTE of
    * [[itemProjSqlAt]]: for k = 3..kMax, `innerIters` cascade rounds
    * (each the q153 triangle-close + support filter, every CTE
    * MATERIALIZED per the q145 rule), then trussness = 2 + the number
    * of k-truss fixpoints f3..fkMax still containing the edge
    * (peeling is monotone, so membership is a prefix). Probed exact
    * vs an in-memory peel-to-empty at all three SFs. */
  private def trussnessRoundsSql(kMax: Int, innerIters: Int): String = {
    val sb = new StringBuilder
    sb.append("\n, f2 AS MATERIALIZED (SELECT u, v FROM edges)")
    var prev = "f2"
    for (k <- 3 to kMax) {
      var cur = prev
      for (i <- 1 to innerIters) {
        val tag = s"k${k}r$i"
        sb.append(
          s"""
             |, adj$tag AS MATERIALIZED (SELECT u AS c, v AS x FROM $cur
             |                           UNION ALL SELECT v, u FROM $cur)
             |, tri$tag AS MATERIALIZED (
             |    SELECT w.c, w.a, w.b
             |    FROM (SELECT l.c, l.x AS a, r.x AS b FROM adj$tag l JOIN adj$tag r
             |          ON l.c = r.c AND l.c < l.x AND l.x < r.x) w
             |    JOIN $cur e ON e.u = w.a AND e.v = w.b)
             |, e$tag AS MATERIALIZED (
             |    SELECT u, v FROM (
             |      SELECT a AS u, b AS v FROM tri$tag
             |      UNION ALL SELECT LEAST(c, a), GREATEST(c, a) FROM tri$tag
             |      UNION ALL SELECT LEAST(c, b), GREATEST(c, b) FROM tri$tag)
             |    GROUP BY 1, 2 HAVING COUNT(*) >= ${k - 2})""".stripMargin)
        cur = s"e$tag"
      }
      sb.append(s"\n, f$k AS MATERIALIZED (SELECT u, v FROM $cur)")
      prev = s"f$k"
    }
    val joins = (3 to kMax)
      .map(k => s"\nLEFT JOIN f$k ON f$k.u = e.u AND f$k.v = e.v").mkString
    val summands = (3 to kMax)
      .map(k => s"(CASE WHEN f$k.u IS NOT NULL THEN 1 ELSE 0 END)").mkString(" + ")
    sb.append(s"\nSELECT e.u AS item_a, e.v AS item_b," +
      s" CAST(2 + $summands AS BIGINT) AS trussness FROM f2 e$joins")
    sb.toString
  }

  /** Unrolled h-index coreness rounds over the `edges` CTE of
    * [[itemProjSql]] — one MATERIALIZED CTE per round (see the q145
    * oracle comment). Round i: neighbor-value rollup r_i, then
    * H = max(least(value, cumulative count sorted desc)). */
  private def corenessRoundsSql(iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """, adj AS MATERIALIZED (SELECT u AS n, v AS x FROM edges
        |                       UNION ALL SELECT v AS n, u AS x FROM edges)
        |, c0 AS (SELECT n, COUNT(*) AS c FROM adj GROUP BY 1)""".stripMargin)
    for (i <- 1 to iters) sb.append(
      s"""
         |, r$i AS (SELECT adj.n, p.c, COUNT(*) AS m
         |          FROM adj JOIN c${i - 1} p ON p.n = adj.x GROUP BY 1, 2)
         |, c$i AS MATERIALIZED (SELECT n, MAX(LEAST(c, cum)) AS c FROM (
         |    SELECT n, c, CAST(SUM(m) OVER (PARTITION BY n ORDER BY c DESC) AS BIGINT) AS cum
         |    FROM r$i) GROUP BY n)""".stripMargin)
    sb.toString
  }

  /** Unrolled k-truss peel rounds over the `edges` CTE of
    * [[itemProjSql]] — every round CTE MATERIALIZED (the q145 rule:
    * deep inlined chains explode DuckDB's optimizer). e0 = edges;
    * round i closes triangles of e_{i-1} and keeps support ≥ k−2. */
  private def trussRoundsSql(k: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb.append("\n, e0 AS MATERIALIZED (SELECT u, v FROM edges)")
    for (i <- 1 to iters) sb.append(
      s"""
         |, adj$i AS MATERIALIZED (SELECT u AS c, v AS x FROM e${i - 1}
         |                         UNION ALL SELECT v, u FROM e${i - 1})
         |, tri$i AS MATERIALIZED (
         |    SELECT w.c, w.a, w.b
         |    FROM (SELECT l.c, l.x AS a, r.x AS b
         |          FROM adj$i l JOIN adj$i r
         |            ON l.c = r.c AND l.c < l.x AND l.x < r.x) w
         |    JOIN e${i - 1} e ON e.u = w.a AND e.v = w.b)
         |, s$i AS MATERIALIZED (
         |    SELECT u, v, CAST(COUNT(*) AS BIGINT) AS support FROM (
         |      SELECT a AS u, b AS v FROM tri$i
         |      UNION ALL SELECT LEAST(c, a), GREATEST(c, a) FROM tri$i
         |      UNION ALL SELECT LEAST(c, b), GREATEST(c, b) FROM tri$i)
         |    GROUP BY 1, 2 HAVING COUNT(*) >= ${k - 2})
         |, e$i AS MATERIALIZED (SELECT u, v FROM s$i)""".stripMargin)
    sb.toString
  }

  /** DuckDB replay of [[graft.graph.PageRank.run]] over the q13 triple
    * graph: `iters` unrolled rounds of
    * rank' = 15e7 + (85 * sum_in(rank // outdeg)) // 100, all BIGINT
    * (sums re-cast from DuckDB's HUGEINT before the damping multiply). */
  /** The q13 triple graph as a (s, t) edge CTE — shared by the
    * PageRank (q116/q122) and HITS (q125) oracles. */
  private val triplesEdgeSql: String =
    """SELECT 'User(' || CAST(user_id AS VARCHAR) || ')' AS s,
      |       'Item(' || CAST(item_id AS VARCHAR) || ')' AS t FROM ratings
      |UNION ALL
      |SELECT 'User(' || CAST(c_custkey AS VARCHAR) || ')',
      |       'Property(' || c_mktsegment || ', mktsegment)'
      |FROM customer WHERE c_custkey IN (SELECT user_id FROM ratings)
      |UNION ALL
      |SELECT 'Item(' || CAST(p_partkey AS VARCHAR) || ')',
      |       'Property(' || p_brand || ', brand)'
      |FROM part WHERE p_partkey IN (SELECT item_id FROM ratings)""".stripMargin

  /** DuckDB replay of [[graft.graph.Hits.run]]: `iters` unrolled
    * rounds of the mutual a/h recursion with L1 fixed-point rescale
    * (x·10^6 // Σx, sums re-cast from HUGEINT), sparse score CTEs,
    * zeros only in the final node join — mirrors the Spark plan.
    * The L1 sum rides as `SUM() OVER ()` so every CTE is referenced
    * exactly once — a scalar-subquery sum would reference each raw
    * CTE twice, and DuckDB inlining then re-evaluates the whole
    * round chain exponentially (2^(2·iters) edge joins; it filled
    * the disk with spill at sf0.1 before this was rewritten). */
  private def hitsSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""a$i AS (
         |  SELECT n, raw * 1000000 // CAST(SUM(raw) OVER () AS BIGINT) AS a FROM (
         |    SELECT e.t AS n, CAST(SUM(h.h) AS BIGINT) AS raw
         |    FROM e JOIN h${i - 1} h ON h.n = e.s GROUP BY 1)),
         |h$i AS (
         |  SELECT n, raw * 1000000 // CAST(SUM(raw) OVER () AS BIGINT) AS h FROM (
         |    SELECT e.s AS n, CAST(SUM(a.a) AS BIGINT) AS raw
         |    FROM e JOIN a$i a ON a.n = e.t GROUP BY 1))""".stripMargin
    }.mkString(",\n")
    R + s""", e AS ($triplesEdgeSql),
       |nodes AS (SELECT DISTINCT n FROM (SELECT s AS n FROM e UNION ALL SELECT t FROM e)),
       |h0 AS (SELECT n, CAST(1000000 AS BIGINT) AS h FROM nodes),
       |$rounds
       |SELECT nodes.n AS node, COALESCE(h.h, 0) AS hub_e, COALESCE(a.a, 0) AS auth_e
       |FROM nodes LEFT JOIN h$iters h ON h.n = nodes.n
       |           LEFT JOIN a$iters a ON a.n = nodes.n""".stripMargin
  }

  /** DuckDB replay of [[graft.graph.LabelPropagation.run]]: `iters`
    * unrolled synchronous mode-label rounds (count per neighbor
    * label, ROW_NUMBER pick with the c DESC, l ASC tie-break — byte
    * ordering matches Spark's UTF8String min on the ASCII labels).
    * Every round CTE is referenced exactly once (see the q125 note on
    * DuckDB's exponential inlining of twice-referenced CTEs). */
  private def lpaSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""l$i AS (
         |  SELECT n, l FROM (
         |    SELECT n, l, ROW_NUMBER() OVER (PARTITION BY n ORDER BY c DESC, l) AS rn
         |    FROM (SELECT ue.b AS n, x.l, COUNT(*) AS c
         |          FROM ue JOIN l${i - 1} x ON x.n = ue.a GROUP BY 1, 2))
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    R + s""", e AS ($triplesEdgeSql),
       |ue AS (SELECT DISTINCT a, b FROM
       |  (SELECT s AS a, t AS b FROM e UNION ALL SELECT t, s FROM e)),
       |l0 AS (SELECT DISTINCT a AS n, a AS l FROM ue),
       |$rounds
       |SELECT n AS node, l AS community FROM l$iters""".stripMargin
  }

  private def pageRankSql(iters: Int, seedCond: Option[String] = None): String = {
    // seedCond uses `{}` as the node-column placeholder (the column is
    // `n` in r0's scope but `n.n` inside the iteration joins)
    val seedTp = seedCond
      .map(c => s"CASE WHEN ${c.replace("{}", "n.n")} THEN 150000000 ELSE 0 END")
      .getOrElse("150000000")
    val seedR0 = seedCond
      .map(c => s"CASE WHEN ${c.replace("{}", "n")} THEN 1000000000 ELSE 0 END")
      .getOrElse("1000000000")
    val triples = triplesEdgeSql
    val rounds = (0 until iters).map { i =>
      s"""r${i + 1} AS (
         |  SELECT n.n, CAST($seedTp + (85 * COALESCE(c.cs, 0)) // 100 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.t AS n, CAST(SUM(r.r // od.d) AS BIGINT) AS cs
         |    FROM e JOIN r$i r ON e.s = r.n JOIN od ON od.s = e.s GROUP BY 1) c USING (n))""".stripMargin
    }.mkString(",\n")
    R + s""", e AS ($triples),
       |nodes AS (SELECT DISTINCT n FROM (SELECT s AS n FROM e UNION ALL SELECT t FROM e)),
       |od AS (SELECT s, COUNT(*) AS d FROM e GROUP BY 1),
       |r0 AS (SELECT n, CAST($seedR0 AS BIGINT) AS r FROM nodes),
       |$rounds
       |SELECT n AS node, r AS rank_e9 FROM r$iters""".stripMargin
  }
}
