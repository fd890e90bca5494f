package graft.queries

import graft.Tables
import graft.graph.{KGraph, PageRank}
import graft.model.{ItemKnn, MarkovNextItem, PopularityRecommender}
import graft.split.EdgeSplits
import graft.text.Dedup
import graft.util.Memo
import Shared.{T, erBlockKeys, erCatalog}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The materializations several queries share, one [[Memo]] each. A
  * query that reads one names it in its `uses`; the bench releases each
  * memo right after the last query that declares it. */
private[graft] object Memos {

  /** Deterministic user-level 80/20 temporal split of the rating edges.
    * q09-q12 all branch from this plan; the memo forces a single
    * materialization pass the first time any query touches the split in
    * a session (a lazy persist lets the train and test sides of one eval
    * join each recompute the ratings join). */
  val tsSplit = Memo.frame("tsSplit")((s, dir) =>
    EdgeSplits.timestampByRatio(Tables.ratings(s, dir), 0.2, "user"))

  def trainRatings(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    tsSplit(s, dir).filter(!col("is_test")).drop("is_test")

  def testRatings(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    tsSplit(s, dir).filter(col("is_test")).drop("is_test")

  // q10/q11/q12 (and the flagship) all consume the same popularity
  // ranking — the users×candidates window is the most expensive
  // relational stage in the chain and must run once
  val popRecs = Memo.frame("popRecs")((s, dir) =>
    PopularityRecommender.recommend(trainRatings(s, dir), 5))

  // ---- shared itemKNN-family materializations --------------------------
  // Eleven queries consume overlapping slices of ONE dependency chain:
  //   rel (capped relevant set)
  //     -> cooc (support-pruned co-interaction pairs): q124 triangles,
  //        q128/q143 link prediction, q145 coreness, q153 ktruss, and
  //        q161 trussness (its minCooc=3 table == cooc.filter(>= 3))
  //     -> sims (integer Jaccard): q138 novelty/ILD, q139 MMR
  //     -> top-10 recommend: q139 (k=10) and, as the rank<=5 prefix,
  //        q123/q133/q137/q158 (top-5 == top-10 filtered: row_number
  //        under a total order is prefix-stable)
  // Each stage runs exactly once per (session, dir).
  val relCapped = Memo.frame("relCapped")((s, dir) =>
    ItemKnn.relevantCapped(Tables.ratings(s, dir), 4.0, 50))

  val coocTable = Memo.frame("coocTable")((s, dir) =>
    ItemKnn.cooc(relCapped(s, dir), 2))

  // q138/q139 + the knnTop10 chain all consume one similarity table,
  // derived from the SHARED cooc materialization (identical by
  // construction: similaritiesFrom(cooc(rel, 2), rel))
  val itemSims = Memo.frame("itemSims")((s, dir) =>
    ItemKnn.similaritiesFrom(coocTable(s, dir), relCapped(s, dir)))

  val knnTop10 = Memo.frame("knnTop10")((s, dir) =>
    ItemKnn.recommend(Tables.ratings(s, dir), relCapped(s, dir),
      ItemKnn.neighbors(itemSims(s, dir), 10), 10))

  def knnRecs(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    knnTop10(s, dir).filter(col("rank") <= 5)

  // q133/q158 build the identical top-20-popularity ranking next to
  // the kNN ranking — one materialization serves both
  val popRank20 = Memo.frame("popRank20") { (s, dir) =>
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

  // q125/q126 (and q13 itself) assemble the identical KG triple graph —
  // ratings triples + semi-joined user/item property triples
  val kgTriples = Memo.frame("kgTriples") { (s, dir) =>
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
  // only on structure, so one encode serves both. The graph pins and
  // re-pins itself.
  val kgEncoded = Memo("kgEncoded")((s, dir) =>
    PageRank.encode(kgTriples(s, dir), "head", "tail"))(
    _.nid.sparkSession, _.repin(), _.release())

  // q142/q146/q152 share one 5-fold assignment; q142/q146 also share
  // the fold-1-train itemKNN chain built on it
  val folded5 = Memo.frame("folded5")((s, dir) =>
    EdgeSplits.kFold(Tables.ratings(s, dir), 5, "user", Seq(col("item_id"))))

  val foldTrainKnnRecs = Memo.frame("foldTrainKnnRecs")((s, dir) => ItemKnn.recs(
    folded5(s, dir).filter(col("fold") =!= 1).select("user_id", "item_id", "rating"),
    minRating = 4.0, cap = 50, minCooc = 2, kNbrs = 10, kRecs = 5))

  // Markov family: transitions(ratings, 2, 5) is consumed by q155,
  // q157 AND q172 (backoff tier 1); transitions2(ratings, 2, 5) by
  // q171 and q172
  val markovT1 = Memo.frame("markovT1")((s, dir) =>
    MarkovNextItem.transitions(Tables.ratings(s, dir), minCount = 2L, k = 5))

  val markovT2 = Memo.frame("markovT2")((s, dir) =>
    MarkovNextItem.transitions2(Tables.ratings(s, dir), minCount = 2L, k = 5))

  // q37, q76 and q147 consume the identical minhash-LSH pair set and its
  // connected components
  val dedupCc = Memo.frame("dedupCc") { (s, dir) =>
    val docs = T(s, dir, "documents")
    val pairs = Dedup.minhashLsh(s, docs, 8, 3, 0.8)
    val cc = Dedup.clusters(s, docs, pairs) // materializes cc persisted
    pairs.unpersist(blocking = false)
    cc
  }

  // q200 and q202 consume the IDENTICAL blocking + scoring chain
  // (2.3M candidate pairs at sf0.1) and only diverge at the
  // assignment step
  val erScored = Memo.frame("erScored") { (s, dir) =>
    import graft.text.EntityResolution._
    val (l, r) = erCatalog(s, dir)
    val fields = Seq(
      Field("name", "l_name", "r_name", TokenJaccardSim, 3L),
      Field("brand", "l_brand", "r_brand", ExactSim, 1L),
      Field("size", "l_size", "r_size", AbsDiffSim(5L), 1L))
    scoredPairs(l, r, "left_id", "right_id", erBlockKeys, fields,
      minScore = 3000L)
  }
}
