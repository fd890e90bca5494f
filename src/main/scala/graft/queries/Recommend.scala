package graft.queries

import graft.Tables
import graft.eval.Metrics
import graft.model.PopularityRecommender
import graft.prep.Preprocess
import graft.report.Reporter
import graft.split.EdgeSplits
import graft.text.Dedup
import Memos._
import Shared._
import org.apache.spark.sql.functions._

/** The recommender pipeline: preprocessing, splits, recommenders, metrics and offline evaluation. */
object Recommend {

  val all: Seq[Query] = Seq(

    // P6/F17: binarize
    Query("q06_binarize", run = (s, dir) =>
      Preprocess.binarize(Tables.ratings(s, dir), 3.0)
        .select(col("user_id"), col("item_id"), col("rating").as("rating_bin")),
      oracle = (R +
      """SELECT user_id, item_id,
        |  CASE WHEN rating >= 3.0 THEN 1.0 ELSE 0.0 END AS rating_bin
        |FROM ratings""".stripMargin)),

    // A2/M7: reference k-core loop (user pass, item pass, user pass).
    // filterKCore is lazy (caller-owned materialization) and never
    // persists the final round itself, so THIS persist registers a fresh
    // cache entry (not a duplicate of a loop-internal one) and survives
    // kc.release(). Each pass replays the prior pass's anti-join from
    // the cached ratings base — one cached scan + broadcast anti-joins
    // per pass, no per-round columnar cache builds.
    Query("q07_kcore", run = (s, dir) => {
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
    },
      oracle = (R +
      """, ku1 AS (SELECT * FROM ratings WHERE user_id IN
        |    (SELECT user_id FROM ratings GROUP BY 1 HAVING COUNT(*) >= 25))
        |, ki1 AS (SELECT * FROM ku1 WHERE item_id IN
        |    (SELECT item_id FROM ku1 GROUP BY 1 HAVING COUNT(*) >= 20))
        |, ku2 AS (SELECT * FROM ki1 WHERE user_id IN
        |    (SELECT user_id FROM ki1 GROUP BY 1 HAVING COUNT(*) >= 25))
        |SELECT user_id, item_id, rating, ts FROM ku2""".stripMargin)),

    // W5/W6: k-fold assignment (ntile == sklearn KFold block sizes)
    Query("q08_kfold_user", run = (s, dir) =>
      EdgeSplits.kFold(Tables.ratings(s, dir), 5, "user", Seq(col("item_id")))
        .select("user_id", "item_id", "fold"),
      oracle = (R +
      """SELECT user_id, item_id,
        |  NTILE(5) OVER (PARTITION BY user_id ORDER BY item_id) AS fold
        |FROM ratings""".stripMargin)),

    // W3: per-user temporal ratio split assignment
    Query("q09_split_timestamp_user", uses = Seq(tsSplit), run = (s, dir) =>
      tsSplit(s, dir).select("user_id", "item_id", "is_test"),
      oracle = (R + splitSql +
      """SELECT user_id, item_id, rn > n - CEIL(n * 0.2) AS is_test FROM split""".stripMargin)),

    // M6-lite/W7/J5/A10: popularity recommender spine
    Query("q10_popularity_recs", uses = Seq(popRecs), run = (s, dir) => popRecs(s, dir),
      oracle = (R + splitSql + popSql +
      """SELECT user_id, item_id, rank FROM recs""".stripMargin)),

    // A8/J8/P8/W8: per-user average precision @ 5
    Query("q11_map_at_5", uses = Seq(tsSplit, popRecs), run = (s, dir) =>
      Metrics.apPerUser(popRecs(s, dir), testRatings(s, dir), 5, 4.0)
        .select(col("user_id"), round(col("ap"), 6).as("ap")),
      oracle = (R + splitSql + popSql + relSql + apCtesSql +
      "\nSELECT user_id, ROUND(ap, 6) AS ap FROM ap")),

    // A9: per-user nDCG @ 5
    Query("q12_ndcg_at_5", uses = Seq(tsSplit, popRecs), run = (s, dir) =>
      Metrics.ndcgPerUser(popRecs(s, dir), testRatings(s, dir), 5, 4.0)
        .select(col("user_id"), round(col("ndcg"), 6).as("ndcg")),
      oracle = (R + splitSql + popSql + relSql + ndcgCtesSql +
      "\nSELECT user_id, ROUND(ndcg, 6) AS ndcg FROM nd")),

    // W4/P7: fixed-timestamp split
    Query("q24_fixed_ts_split", run = (s, dir) =>
      EdgeSplits.fixedTimestamp(Tables.ratings(s, dir), FixedTs)
        .groupBy("is_test").agg(count(lit(1)).as("n"), round(avg("rating"), 6).as("avg_rating")),
      oracle = (R +
      """SELECT ts > 915148800000 AS is_test, COUNT(*) AS n,
        |  ROUND(AVG(rating), 6) AS avg_rating
        |FROM ratings GROUP BY 1""".stripMargin)),

    // A7/M9: fold pivot report with mean and population stddev
    Query("q27_report_pivot", run = (s, dir) => {
      val folds = EdgeSplits.kFold(Tables.ratings(s, dir), 5, "global",
        Seq(EdgeSplits.portableHash(42), col("item_id"), col("user_id")))
      val metrics = folds.groupBy("fold").agg(avg("rating").as("value"))
        .withColumn("model", lit("ratings_avg"))
      Reporter.foldPivot(metrics, 5, "avg_rating")
    },
      oracle = (R +
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
        |FROM fm""".stripMargin)),

    // W1/W2: seeded-random ratio split, oracle-portable md5 ordering
    Query("q31_random_split_user", run = (s, dir) =>
      EdgeSplits.byRatio(Tables.ratings(s, dir), 0.25, "user",
        Seq(EdgeSplits.portableHash(42), col("item_id")))
        .select("user_id", "item_id", "is_test"),
      oracle = (R +
      """, split2 AS (SELECT user_id, item_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY
        |      md5(CAST(user_id AS VARCHAR) || '|' || CAST(item_id AS VARCHAR) || '|42'),
        |      item_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n FROM ratings)
        |SELECT user_id, item_id, rn > n - CEIL(n * 0.25) AS is_test FROM split2""".stripMargin)),

    // S7 + the full CLI loop under the hash check: a YAML-configured
    // experiment (experiment.py:38-106) — typed-CSV load, dedupe,
    // timestamp split, popularity train/recommend, MAP@5 + nDCG@5, fold
    // pivot — every stage SQL-replayable because each piece is already
    // oracled on its own (q09/q10/q11/q12/q27). Execution-time columns
    // are dropped (wall time is not deterministic). Bounded to ~300
    // users at every sf.
    Query("q51_experiment_yaml", run = (s, dir) => {
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
    },
      // the full YAML-experiment replay: typed-CSV load (reading the file
      // the query wrote), last-wins dedupe, then the SAME split/popularity/
      // metric fragments the piecewise oracles use; per-user metrics stay
      // unrounded (the report rounds once, after the user mean, exactly as
      // Reporter.foldPivot does). Single fold -> mean == fold value, std 0.
      oracle = (s"""WITH raw AS (
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
        |  0.0 AS "nDCG@5_std"""".stripMargin)),

    // W1 global split through the DECOMPOSED exact rank (EdgeSplits.
    // byRatioGlobalScalable): same `rn > N - ceil(N*p)` flag as the
    // monolithic global window, with the total order split into skinny
    // per-bucket offsets + a 256-way-parallel bucket-partitioned
    // window — the flagged single-partition window of level=global is
    // gone from the scale path, and the oracle replays the NAIVE
    // window, so the decomposition equality is under the hash gate
    Query("q109_split_global", run = (s, dir) => {
      val key = Seq(EdgeSplits.portableHash(42), col("item_id"), col("user_id"))
      EdgeSplits.byRatioGlobalScalable(Tables.ratings(s, dir), 0.25, key,
        EdgeSplits.hexBucket(EdgeSplits.portableHash(42)))
        .select("user_id", "item_id", "is_test")
    },
      // the NAIVE monolithic global window — the decomposed Spark plan
      // must reproduce it bit-for-bit
      oracle = (R +
      """, split2 AS (SELECT user_id, item_id,
        |    ROW_NUMBER() OVER (ORDER BY
        |      md5(CAST(user_id AS VARCHAR) || '|' || CAST(item_id AS VARCHAR) || '|42'),
        |      item_id, user_id) AS rn,
        |    COUNT(*) OVER () AS n FROM ratings)
        |SELECT user_id, item_id, rn > n - CEIL(n * 0.25) AS is_test FROM split2""".stripMargin)),

    // leakage-safe split: whole SOURCES land on one side (row-level
    // splits can't prevent near-dup train/eval contamination) — the
    // house md5-threshold scheme, one narrow expression
    Query("q121_group_split", run = (s, dir) =>
      graft.util.Sampling.groupSplit(T(s, dir, "documents"), "source",
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)), seed = 42L)
        .select(col("doc_id"), col("source"), col("split")),
      // cumulative boundaries floor(0.8*2^32)=0xcccccccc,
      // floor(0.9*2^32)=0xe6666666; fixed-width lowercase hex compares
      // as unsigned
      oracle = """SELECT doc_id, source,
        |  CASE WHEN substring(md5(source || '|42'), 1, 8) < 'cccccccc' THEN 'train'
        |       WHEN substring(md5(source || '|42'), 1, 8) < 'e6666666' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin),

    // item-based CF (itemKNN): exact integer-Jaccard item-item
    // similarities over capped relevant interactions (cap=50 binds
    // in-query: max relevant user degree is 58 at sf0.1), support
    // prune cooc>=2, top-10 neighbor lists, top-5 unseen recs
    Query("q123_itemknn_recs", uses = Seq(knnTop10), warm = true, run = (s, dir) => knnRecs(s, dir),
      // itemKNN: integer-Jaccard sims (cooc*10^6 // union-size, all
      // nonneg so DuckDB // == Spark div), row_number replays the TopK
      // heap's (order DESC, tie ASC) total order at every stage
      oracle = (R + itemKnnChainSql +
      "\nSELECT user_id, item_id, score, rank FROM knn")),

    // hybrid retrieval: reciprocal-rank fusion of the itemKNN
    // ranking (q123) with a global-popularity ranking — rank-only
    // combination, exact 10^6 div (60 + rank) contributions
    Query("q133_rrf_fusion", uses = Seq(knnTop10, popRank20), warm = true, run = (s, dir) => {
      val knn = knnRecs(s, dir).select("user_id", "item_id", "rank")
      graft.model.Rrf.fuse(Seq(knn, popRank20(s, dir)), k = 60L, topK = 5)
    },
      // RRF over the q123 itemKNN ranking and a global-popularity
      // ranking: rank-only fusion, 10^6 div (60 + rank) contributions
      oracle = (R + itemKnnChainSql +
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
        |  FROM fused) WHERE rn <= 5""".stripMargin)),

    // beyond-accuracy eval: catalog coverage + Gini concentration of
    // the itemKNN top-5 recommendations (exact scaled ints; the Gini
    // rank sum needs no per-item rank — count-of-counts rollup only)
    Query("q137_rec_coverage", uses = Seq(knnTop10), warm = true, run = (s, dir) => {
      val r = Tables.ratings(s, dir)
      val recs = knnRecs(s, dir).select("user_id", "item_id")
      graft.eval.Coverage.summary(recs, r.select("item_id"))
    },
      // coverage/Gini: count-of-counts rollup — the rank-weighted sum
      // v·(m·s + m(m+1)/2) per tie group is tie-order invariant, so no
      // per-item global rank exists on either engine
      oracle = (R + itemKnnChainSql +
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
        |FROM g, cat""".stripMargin)),

    // beyond-accuracy eval: per-user novelty (mean self-information,
    // q12-precedent rounded log2) + intra-list diversity (exact e6
    // ints over the itemKNN similarity table)
    Query("q138_novelty_ild", uses = Seq(knnTop10, itemSims), warm = true, run = (s, dir) => {
      val r = Tables.ratings(s, dir)
      // top-5 == the shared top-10 recommend cut at rank 5 (row_number
      // prefix stability under the total order)
      val recs = knnRecs(s, dir).select("user_id", "item_id")
      graft.eval.Coverage.noveltyIld(recs, r,
        itemSims(s, dir).select("item_a", "item_b", "sim"))
    },
      // novelty: −log2(pop/|U|) mean per user (round-6 double, the q12
      // log2 precedent); ILD: 10⁶ − mean pairwise itemKNN similarity
      // within each top-5 list, exact ints (absent pair = 0)
      oracle = (R + itemKnnChainSql +
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
        |FROM nov n LEFT JOIN ild i ON n.user_id = i.user_id""".stripMargin)),

    // MMR diversification of the itemKNN top-10 candidates: 3 greedy
    // picks per user at λ=1/2 (integer mmr2x = rel − max sim to the
    // picked set; per-user bounded walk, exact BIGINTs)
    Query("q139_mmr_diversify", uses = Seq(knnTop10, itemSims), warm = true, run = (s, dir) => {
      val cands = knnTop10(s, dir).select("user_id", "item_id", "score")
      graft.model.Mmr.diversify(cands,
        itemSims(s, dir).select("item_a", "item_b", "sim"), 3)
    },
      // MMR: the 3-step greedy unrolled — pick t = argmax over
      // remaining candidates of score − GREATEST(sim to each picked),
      // ties by item_id; `ss` is the symmetric flat sim lookup
      oracle = (R + itemKnnChain("ratings", 10, "rel") +
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
        |UNION ALL SELECT user_id, i3, CAST(3 AS INT), m3 FROM p3""".stripMargin)),

    // a full offline recommender experiment in ONE query — the
    // reference's core loop (framework/experiment.py:31-113): k-fold
    // user split -> train itemKNN on folds 2..5 -> AP@5 + nDCG@5 per
    // user against fold 1 (composition of q08 + q123 + q11 + q12)
    Query("q142_kfold_knn_eval", uses = Seq(folded5, foldTrainKnnRecs), warm = true, run = (s, dir) => {
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
    },
      // the composed experiment: q08's ntile fold CTE, the itemKNN
      // chain retargeted at `train` (its capped-relevant CTE renamed
      // `krel` so relSql's metric `rel` keeps its name), then the
      // SHARED q11/q12 metric CTEs verbatim — one oracle drift point
      // per fragment, zero duplicated SQL
      oracle = (R +
      """, kf AS (SELECT user_id, item_id, rating,
        |         NTILE(5) OVER (PARTITION BY user_id ORDER BY item_id) AS fold FROM ratings)
        |, train AS (SELECT user_id, item_id, rating FROM kf WHERE fold <> 1)
        |, test AS (SELECT user_id, item_id, rating FROM kf WHERE fold = 1)""".stripMargin
      + itemKnnChain("train", 5, "krel")
      + "\n, recs AS (SELECT user_id, item_id, rank FROM knn)"
      + relSql + apCtesSql + ndcgCtesSql +
      "\nSELECT a.user_id, ROUND(ap, 6) AS ap, ROUND(ndcg, 6) AS ndcg FROM ap a JOIN nd USING (user_id)")),

    // serendipity@5 on the q142 k-fold frame: relevant AND absent
    // from the popularity primitive's top-5 (exact n·10⁶ div 5)
    Query("q146_serendipity", uses = Seq(folded5, foldTrainKnnRecs), run = (s, dir) => {
      val folded = folded5(s, dir)
      val train = folded.filter(col("fold") =!= 1).select("user_id", "item_id", "rating")
      val test = folded.filter(col("fold") === 1).select("user_id", "item_id", "rating")
      val recs = foldTrainKnnRecs(s, dir).select("user_id", "item_id", "rank")
      Metrics.serendipityAtK(recs,
        PopularityRecommender.recommend(train, 5).select("user_id", "item_id"),
        test, 5, 4.0)
    },
      // serendipity: the q142 frame + the popularity primitive (popSql
      // replicated p-prefixed over the k-fold train — the chain already
      // owns `cand`); relevant-and-unexpected counted per user
      oracle = (R +
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
        |SELECT user_id, n_serendip, n_serendip * 1000000 // 5 AS ser_e6 FROM ser""".stripMargin)),

    // leakage-safe split: test/train buckets drawn on the NEAR-DUP
    // CLUSTER id (q37's components), so duplicate documents can never
    // straddle the split (Lee et al. 2021 contamination discipline)
    Query("q147_leakage_safe_split", uses = Seq(dedupCc), run = (s, dir) =>
      Dedup.leakageSafeSplit(dedupCc(s, dir), seed = 7L, nBuckets = 5, testBucket = 0),
      // leakage-safe split: q37's recursive-CC labeling + the q84 md5
      // bucket arithmetic on the CLUSTER id
      oracle = (minhashCtes(8, 2).replace("WITH ", "WITH RECURSIVE ") +
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
        |FROM lbl""".stripMargin)),

    // seeded uniform negative sampling (the BPR training-set step):
    // constant-width hash draws against a dense item index — no
    // users×items cross join, no partitioning-dependent rand()
    Query("q148_negative_sampling", run = (s, dir) =>
      graft.model.NegativeSampling.uniformNegatives(
        Tables.ratings(s, dir), k = 4, oversample = 3, seed = 11L),
      // negative sampling: dense index = ROW_NUMBER over distinct items
      // (DuckDB's single sort IS the oracle's luxury; the Spark side
      // decomposes it), then the same md5-mod draws, min-first-draw
      // dedup, anti-join, rank
      oracle = (R +
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
        |  FROM unseen) WHERE rn <= 4""".stripMargin)),

    // recency-decayed popularity in exact power-of-two integer
    // weights (10⁶ div 2^(age div 30d)), top-20 trending items
    Query("q149_trending", run = (s, dir) =>
      graft.model.Trending.trending(
        Tables.ratings(s, dir).select("item_id", "ts"),
        halfLifeMs = 2592000000L, k = 20),
      // trending: the same bucketed half-life weights (`<<` is exact on
      // BIGINT in both engines), global top-20
      oracle = (R +
      """, mx AS (SELECT MAX(ts) AS mx FROM ratings)
        |SELECT item_id,
        |       CAST(SUM(1000000 // (CAST(1 AS BIGINT) << CAST(LEAST((mx - ts) // 2592000000, 40) AS INT))) AS BIGINT) AS score_e6,
        |       COUNT(*) AS n
        |FROM ratings, mx GROUP BY item_id
        |ORDER BY score_e6 DESC, item_id LIMIT 20""".stripMargin)),

    // time-windowed co-visitation ("bought this, soon bought that"):
    // capped pair join with a 90-day window predicate, support >= 2,
    // symmetric top-5 lists on the bounded heap
    Query("q150_covisitation", run = (s, dir) =>
      graft.model.ItemKnn.covisitation(Tables.ratings(s, dir),
        minRating = 4.0, cap = 50, windowMs = 7776000000L, minCooc = 2, k = 5),
      // covisitation: the capped-rel pair join with the 90-day window
      // predicate, symmetrized, per-item top-5
      oracle = (R +
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
        |        UNION ALL SELECT item_b, item_a, cnt FROM prs)) WHERE rn <= 5""".stripMargin)),

    // user-based CF (the itemKNN transpose): double-capped relevant
    // set (per-user AND per-item — the viral-item pair bound),
    // user-user integer Jaccard, neighbor-vote scoring
    Query("q151_userknn_recs", warm = true, run = (s, dir) =>
      graft.model.UserKnn.recs(Tables.ratings(s, dir),
        minRating = 4.0, capPerUser = 50, capPerItem = 50,
        minCooc = 2, kNbrs = 10, kRecs = 5),
      // userKNN: the transposed chain — per-user cap, then per-item
      // rater cap, user-pair Jaccard, neighbor-vote scores
      oracle = (R +
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
        |  FROM uunseen) WHERE rn <= 5""".stripMargin)),

    // rating prediction: Koren's regularized baseline (µ + b_u + b_i)
    // in exact e6 ints on the q142 fold frame, per-user MSE
    Query("q152_baseline_mse", uses = Seq(folded5), run = (s, dir) => {
      val folded = folded5(s, dir)
      graft.model.BiasedBaseline.mseByUser(
        folded.filter(col("fold") =!= 1).select("user_id", "item_id", "rating"),
        folded.filter(col("fold") === 1).select("user_id", "item_id", "rating"),
        lambda1 = 10L, lambda2 = 25L)
    },
      // baseline predictor: same shrunk-bias integer arithmetic (both
      // engines truncate div toward zero on NEGATIVE dividends — probed
      // −7 // 2 = −3 in DuckDB and −7 div 2 = −3 in Spark)
      oracle = (R +
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
        |FROM pred GROUP BY 1""".stripMargin)),

    // first-order Markov next-item transitions over user timelines
    // (the sequential-rec baseline; q144's narrow zip pairing)
    Query("q155_markov_next_item", uses = Seq(markovT1), run = (s, dir) => markovT1(s, dir),
      // Markov next-item: ordered timelines via row_number, consecutive
      // pairs by rn+1 self-join (the oracle's luxury; Spark zips)
      oracle = (R +
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
        |  FROM tc) WHERE rn <= 5""".stripMargin)),

    // serve the Markov model: each user's last item -> its top next
    // unseen transitions (sequential-rec composition of q155)
    Query("q157_markov_recs", uses = Seq(markovT1), run = (s, dir) =>
      graft.model.MarkovNextItem.recommendFrom(Tables.ratings(s, dir),
        markovT1(s, dir), k = 5),
      // Markov serving: the q155 chain + last-item lookup + anti-join
      oracle = (R +
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
        |  FROM mc) WHERE rn <= 5""".stripMargin)),

    // Kendall-τ agreement between the itemKNN ranking and the
    // popularity baseline over each user's shared items (exact ints;
    // "does the model rank differently from popular?")
    Query("q158_rank_agreement", uses = Seq(knnTop10, popRank20), run = (s, dir) => {
      val knn = knnRecs(s, dir).select("user_id", "item_id", "rank")
      graft.eval.RankAgreement.kendallTau(knn, popRank20(s, dir))
    },
      // Kendall-τ: align the two rankings on shared (user, item), pair
      // within user, count concordant order agreements
      oracle = (R + itemKnnChainSql +
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
        |FROM prs GROUP BY 1""".stripMargin)),

    // BPR matrix factorization (Rendle 2009) on the bounded subgraph —
    // the q41 golden scheme: pin_order full-batch logistic-pairwise
    // SGD, bit-exact across sessions; recs via dot+bias broadcast
    // serving with the k' = k + maxRated unseen guarantee
    Query("q162_bpr_recs", uses = Seq(tsSplit), run = (s, dir) =>
      graft.model.BprMf.recs(s,
        trainRatings(s, dir).filter(col("user_id") < 200),
        minRating = 4.0, dim = 16, epochs = 3, lr = 0.05, reg = 0.01,
        seed = 42L, k = 5, pinOrder = true),
      // golden-file oracle, q41 scheme (regenerate with
      // `runMain graft.GoldenGen q162_bpr_recs <sfdirs...>`)
      oracle = (R +
      """SELECT user_id, item_id, rank
        |FROM '/root/repo/goldens/q162_bpr_recs.parquet'
        |WHERE n_ratings = (SELECT COUNT(*) FROM ratings)""".stripMargin)),

    // explicit-feedback ALS on the bounded subgraph — exact per-row
    // normal equations (no learning rate), pin_order bit-exact, the
    // q41/q162 golden scheme; serving shares the BPR dot-product path
    Query("q164_als_recs", uses = Seq(tsSplit), run = (s, dir) =>
      graft.model.Als.recs(s,
        trainRatings(s, dir).filter(col("user_id") < 200),
        dim = 8, iters = 3, lambda = 0.1, seed = 42L, k = 5, pinOrder = true),
      oracle = (R +
      """SELECT user_id, item_id, rank
        |FROM '/root/repo/goldens/q164_als_recs.parquet'
        |WHERE n_ratings = (SELECT COUNT(*) FROM ratings)""".stripMargin)),

    // market-basket frequent triples: a-priori — every sub-pair of a
    // candidate triple must itself be frequent, so the basket join is
    // pair-pruned at each step (never a raw C(cap,3) explode)
    // consumes the SHARED rel/cooc materializations (identical
    // parameterization by construction: relCapped(4.0, 50),
    // cooc(rel, 2) == the memo chain) instead of rebuilding both
    Query("q165_frequent_triples", uses = Seq(relCapped, coocTable), run = (s, dir) =>
      graft.model.Baskets.frequentTriplesFrom(relCapped(s, dir),
        coocTable(s, dir), minSupport = 2),
      // frequent triples: the identical a-priori pair-pruned 3-way join
      oracle = (R +
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
        |""".stripMargin)),

    // leakage-safe recency feature: per-event decayed count of the
    // user's strictly-prior events — per-(user,bucket) rollup + a
    // bounded 41-offset join, never a per-row history scan
    Query("q166_recency_feature", run = (s, dir) =>
      graft.prep.TemporalFeatures.decayedPriorCount(
        Tables.ratings(s, dir).select("user_id", "item_id", "ts"),
        halfLifeMs = 2592000000L),
      // recency feature: same bucket rollup + 40-offset join + strictly-
      // earlier same-bucket window, all exact ints
      oracle = (R +
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
        |  ON d.user_id = s.user_id AND d.item_id = s.item_id""".stripMargin)),

    // implicit-feedback ALS (Hu-Koren-Volinsky 2008) on the bounded
    // subgraph — the q164 golden scheme with confidence c = 1 + α·r
    // and the per-half-sweep YᵀY gram trick; the regime matching the
    // reference's binarize + relevance workflow
    Query("q168_als_implicit_recs", uses = Seq(tsSplit), run = (s, dir) =>
      graft.model.AlsImplicit.recs(s,
        trainRatings(s, dir).filter(col("user_id") < 200),
        dim = 8, iters = 3, lambda = 0.1, alpha = 40.0, seed = 42L, k = 5,
        pinOrder = true),
      oracle = (R +
      """SELECT user_id, item_id, rank
        |FROM '/root/repo/goldens/q168_als_implicit_recs.parquet'
        |WHERE n_ratings = (SELECT COUNT(*) FROM ratings)""".stripMargin)),

    // order-2 Markov transitions (session-based higher-order baseline):
    // consecutive timeline triples, minSupport-pruned state space
    Query("q171_markov2_transitions", uses = Seq(markovT2), run = (s, dir) => markovT2(s, dir),
      // order-2 Markov: the q155 scheme extended to timeline triples
      oracle = (R +
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
        |  FROM tc) WHERE rn <= 5""".stripMargin)),

    // serve order-2 with order-1 backoff: last-two-items context, per
    // user; users whose order-2 context yields no unseen candidate
    // fall back to the first-order table (ord marks which served)
    Query("q172_markov2_recs", uses = Seq(markovT1, markovT2), run = (s, dir) =>
      graft.model.MarkovNextItem.recommendBackoffFrom(Tables.ratings(s, dir),
        markovT2(s, dir), markovT1(s, dir), k = 5),
      // order-2 serving with order-1 backoff: q157's chain on the
      // last-two context, union the first-order fallback for users with
      // no unseen order-2 candidate
      oracle = (R +
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
        |  FROM uni) WHERE rn <= 5""".stripMargin)),

    // purged temporal split: a 7-day embargo after the cut keeps
    // trailing-window features from leaking into test labels
    Query("q185_purged_split", run = (s, dir) =>
      graft.split.EdgeSplits.fixedTimestampPurged(
        Tables.ratings(s, dir), FixedTs, embargoMs = 7L * 86400000L)
        .groupBy("split").agg(count(lit(1)).as("n"),
          round(avg("rating"), 6).as("avg_rating")),
      oracle = (R +
      """SELECT CASE WHEN ts <= 915148800000 THEN 'train' ELSE 'test' END AS split,
        |       COUNT(*) AS n, ROUND(AVG(rating), 6) AS avg_rating
        |FROM ratings
        |WHERE ts <= 915148800000 OR ts > 915148800000 + 604800000
        |GROUP BY 1""".stripMargin)),

    // group-aware k-fold: folds assigned at source granularity, so
    // same-source docs never straddle a fold boundary
    Query("q186_group_kfold", run = (s, dir) =>
      graft.util.Sampling.groupKFold(T(s, dir, "documents"), "source", 4, 42L)
        .groupBy("fold").agg(count(lit(1)).as("n"),
          countDistinct("source").as("n_sources")),
      oracle = """SELECT CAST(('0x'||substr(md5(source||'|42'),1,8))::UBIGINT % 4 + 1 AS INT) AS fold,
        |       COUNT(*) AS n, COUNT(DISTINCT source) AS n_sources
        |FROM documents GROUP BY 1""".stripMargin)
  )

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

  /** 1999-01-01T00:00:00Z in epoch millis — fixed-timestamp split point. */
  private val FixedTs = 915148800000L
}
