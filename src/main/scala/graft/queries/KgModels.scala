package graft.queries

import graft.Tables
import graft.graph.KGraph
import graft.walk.RandomWalks
import Memos._
import Shared._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The knowledge graph and the embedding models trained on it: triples, relabeling, walks, KGE, item2vec. */
object KgModels {

  val all: Seq[Query] = Seq(

    // M5/F8/F9/O3: triple export with canonical node labels (the
    // shared kgTriples materialization — q116/q122/q125/q126 run
    // their kernels over the same graph)
    Query("q13_triples", uses = Seq(kgTriples), run = (s, dir) => kgTriples(s, dir),
      oracle = (R +
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
        |FROM part WHERE p_partkey IN (SELECT item_id FROM ratings)""".stripMargin)),

    // J9/§1.3: deterministic node relabeling
    Query("q25_relabel", run = (s, dir) => {
      val r = Tables.ratings(s, dir)
      KGraph.relabel(
        r.select(KGraph.userLabel(col("user_id")).as("label"))
          .union(r.select(KGraph.itemLabel(col("item_id")).as("label"))))
    },
      oracle = (R +
      """SELECT label, ROW_NUMBER() OVER (ORDER BY label) - 1 AS node_id FROM (
        |  SELECT DISTINCT 'User(' || CAST(user_id AS VARCHAR) || ')' AS label FROM ratings
        |  UNION
        |  SELECT DISTINCT 'Item(' || CAST(item_id AS VARCHAR) || ')' AS label FROM ratings)""".stripMargin)),

    // M1-M3/M6: DeepWalk on a bounded subgraph. Fully pinned for the
    // golden-parquet oracle: driver-regime SGNS with threads=1 (bit-exact for a
    // fixed seed — SkipGram.scala:38-40) over a (start, walk_idx)-sorted
    // corpus (pin_order), so the output is partitioning- and
    // session-independent. No SQL engine can replay the fit itself; the
    // golden records spec-verified output (SkipGramSpec invariants).
    Query("q40_deepwalk_recs", uses = Seq(tsSplit), run = (s, dir) => {
      val train = trainRatings(s, dir).filter(col("user_id") < 200)
      val rec = new graft.walk.DeepWalkRecommender(Map(
        "n_walks" -> "3", "walk_len" -> "6", "embedding_size" -> "16",
        "epochs" -> "1", "seed" -> "42", "w2v_threads" -> "1", "pin_order" -> "true"))
        .train(s, train, None)
      // q07 pattern: materialize the output once, then release() the
      // recommender's userEmb/itemEmb/train caches — per-run cache
      // accumulation is what r3's hygiene pass was eliminating
      val out = rec.recommend(5).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      rec.release()
      out
    },
      // golden-file oracles, same scheme as q42/q45: both embedding fits
      // are pinned bit-exact (q40: local single-thread SGNS over a sorted
      // corpus; q41: single-partition sorted full-batch gradient) so the
      // (user_id, item_id, rank) output is session-independent, but no SQL
      // engine can replay the training itself (regenerate with
      // `runMain graft.GoldenGen q40_deepwalk_recs <sfdirs...>`)
      oracle = (R +
      """SELECT user_id, item_id, rank
        |FROM '/root/repo/goldens/q40_deepwalk_recs.parquet'
        |WHERE n_ratings = (SELECT COUNT(*) FROM ratings)""".stripMargin)),

    // M4-M6: TransE KGE on a bounded subgraph. Pinned for the golden-
    // parquet oracle: pin_order sorts the training triples onto one
    // partition so the full-batch gradient accumulates in a fixed float
    // order — bit-exact across sessions (KgeTrainer.fit). The fit
    // itself is fd-gradient spec-verified; the golden records it.
    Query("q41_transe_recs", uses = Seq(tsSplit), run = (s, dir) => kgeRecsPinned(s, dir, "transE"),
      oracle = (R +
      """SELECT user_id, item_id, rank
        |FROM '/root/repo/goldens/q41_transe_recs.parquet'
        |WHERE n_ratings = (SELECT COUNT(*) FROM ratings)""".stripMargin)),

    // M2: node2vec biased walks — deterministic (seeded xxhash64
    // transitions), replayed independently by the DuckDB oracle
    // (graft.oracle.XxhWalkSql.q42Sql). Full path content is under the
    // hash check — the golden era hashed only path_len, which is
    // constantly 5 on this connected graph and never saw a transition.
    Query("q42_node2vec_walks", uses = Seq(tsSplit), run = (s, dir) => {
      val edges = trainRatings(s, dir).filter(col("user_id") < 100)
        .select(col("user_id").as("src"), (col("item_id") + lit(1000000)).as("dst"))
      val adj = RandomWalks.adjacency(edges)
      val walks = RandomWalks.biasedWalks(s, adj, adj.select(col("node")), 2, 5, 0.5, 2.0, 42)
      walks.select(col("start"), col("walk_idx"),
        concat_ws(",", expr("transform(path, x -> cast(x as string))")).as("path_s"))
    },
      // INDEPENDENT SQL replay of the biased (node2vec) kernel — full
      // path content under the hash (the golden era hashed only the
      // constant path_len); see graft.oracle.XxhWalkSql.q42Sql
      oracle = graft.oracle.XxhWalkSql.q42Sql(R)),

    // M1: the uniform-walk half of q40's DeepWalk pipeline, pinned
    // exactly — same relabel, adjacency, and seeded-xxhash64 chain the
    // recommender runs internally; only the Word2Vec embeddings stay
    // rows-only (legitimately seed-sensitive). Verified against
    // goldens/q45_deepwalk_walks.parquet (walker.py:12-55).
    Query("q45_deepwalk_walks", uses = Seq(tsSplit), run = (s, dir) => {
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
    },
      // INDEPENDENT SQL replay (upgraded from a golden parquet): the
      // uniform walks are a pure function of the seeded XXH64 chain, so
      // the oracle re-derives XXH64 in DuckDB HUGEINT arithmetic and
      // replays every transition in a recursive CTE — see
      // graft.oracle.XxhWalkSql
      oracle = graft.oracle.XxhWalkSql.q45Sql(R)),

    // F13/F14: complex->real embedding slice (first half of the
    // interleaved layout, kge/KgeRecommender.scala) + zero-vector fill
    // for entities that never trained — the id space is chosen so every
    // sf exercises both the matched and the zero-filled branch
    Query("q48_complex_real_zero_fill", run = (s, dir) => {
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
    },
      oracle = """WITH ids AS (SELECT DISTINCT p_partkey % 2500 AS vec_id FROM part),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT i.vec_id,
        |  ROUND(COALESCE(e.v[1], 0.0), 6) AS f0,
        |  ROUND(COALESCE(e.v[32], 0.0), 6) AS f31,
        |  CAST(32 AS INT) AS n_dims
        |FROM ids i LEFT JOIN e ON i.vec_id = e.vec_id""".stripMargin),

    // M4: the three headline non-translational scoring families of the
    // reference's 9-model zoo (model2class.py:1-42) under the same
    // golden-parquet scheme as q41 — pin_order full-batch gradient on
    // the bounded subgraph, so each model's (user_id, item_id, rank)
    // output is session-independent. distMult: bilinear-diagonal
    // (distMult/model.py), rotatE: complex rotation + modulus distance
    // (rotatE/model.py:108-109), complEx: Hermitian trilinear product
    // (complEx/model.py:106-107). Gradients fd-spec-verified in
    // WalkAndModelSpec; the goldens record that verified output.
    Query("q67_distmult_recs", uses = Seq(tsSplit), run = (s, dir) => kgeRecsPinned(s, dir, "distMult"),
      // golden-file oracles, same scheme as q41, one per non-translational
      // scoring family (regenerate with `runMain graft.GoldenGen <name>
      // <sfdirs...>` after spec-verifying a trainer change)
      oracle = (R +
      """SELECT user_id, item_id, rank
        |FROM '/root/repo/goldens/q67_distmult_recs.parquet'
        |WHERE n_ratings = (SELECT COUNT(*) FROM ratings)""".stripMargin)),

    Query("q68_rotate_recs", uses = Seq(tsSplit), run = (s, dir) => kgeRecsPinned(s, dir, "rotatE"),
      oracle = (R +
      """SELECT user_id, item_id, rank
        |FROM '/root/repo/goldens/q68_rotate_recs.parquet'
        |WHERE n_ratings = (SELECT COUNT(*) FROM ratings)""".stripMargin)),

    Query("q69_complex_recs", uses = Seq(tsSplit), run = (s, dir) => kgeRecsPinned(s, dir, "complEx"),
      oracle = (R +
      """SELECT user_id, item_id, rank
        |FROM '/root/repo/goldens/q69_complex_recs.parquet'
        |WHERE n_ratings = (SELECT COUNT(*) FROM ratings)""".stripMargin)),

    // M4: the remaining five scoring families — with these, all 9
    // reference models (model2class.py:1-42) are hash-checked
    // end-to-end. transH: hyperplane projection (transH/model.py),
    // transR: per-relation d×d projection, transD: dynamic projection
    // vectors, rescal: bilinear d×d relation matrix, tuckER: shared d³
    // core tensor. Same pinned-fit golden scheme as q41/q67-q69.
    Query("q70_transh_recs", uses = Seq(tsSplit), run = (s, dir) => kgeRecsPinned(s, dir, "transH"),
      oracle = (R +
      """SELECT user_id, item_id, rank
        |FROM '/root/repo/goldens/q70_transh_recs.parquet'
        |WHERE n_ratings = (SELECT COUNT(*) FROM ratings)""".stripMargin)),

    Query("q71_transr_recs", uses = Seq(tsSplit), run = (s, dir) => kgeRecsPinned(s, dir, "transR"),
      oracle = (R +
      """SELECT user_id, item_id, rank
        |FROM '/root/repo/goldens/q71_transr_recs.parquet'
        |WHERE n_ratings = (SELECT COUNT(*) FROM ratings)""".stripMargin)),

    Query("q72_transd_recs", uses = Seq(tsSplit), run = (s, dir) => kgeRecsPinned(s, dir, "transD"),
      oracle = (R +
      """SELECT user_id, item_id, rank
        |FROM '/root/repo/goldens/q72_transd_recs.parquet'
        |WHERE n_ratings = (SELECT COUNT(*) FROM ratings)""".stripMargin)),

    Query("q73_rescal_recs", uses = Seq(tsSplit), run = (s, dir) => kgeRecsPinned(s, dir, "rescal"),
      oracle = (R +
      """SELECT user_id, item_id, rank
        |FROM '/root/repo/goldens/q73_rescal_recs.parquet'
        |WHERE n_ratings = (SELECT COUNT(*) FROM ratings)""".stripMargin)),

    Query("q74_tucker_recs", uses = Seq(tsSplit), run = (s, dir) => kgeRecsPinned(s, dir, "tuckER"),
      oracle = (R +
      """SELECT user_id, item_id, rank
        |FROM '/root/repo/goldens/q74_tucker_recs.parquet'
        |WHERE n_ratings = (SELECT COUNT(*) FROM ratings)""".stripMargin)),

    // the `triples: all` KGE TRAINING frame exactly as KgeRecommender
    // assembles it from the CLI loader's property-edge explosion
    // (KGraph.propertyEdges — multi-column, null/'' filtered):
    // rating triples ∪ (src_label, relation, dst_label)→(head, r, tail)
    Query("q174_kge_triples_all", run = (s, dir) => {
      val r = Tables.ratings(s, dir)
      val items = T(s, dir, "part")
        .join(r.select(col("item_id").as("p_partkey")), Seq("p_partkey"), "left_semi")
      val p = graft.graph.KGraph.propertyEdges(items, "p_partkey", isUser = false,
        Seq("p_brand", "p_type")).get
      graft.graph.KGraph.ratingTriples(r).unionByName(
        p.select(col("src_label").as("head"), col("relation"), col("dst_label").as("tail")))
    },
      // triples:all training frame: q13's label algebra over the
      // two-column property explosion
      oracle = (R +
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
        |  AND p_type IS NOT NULL AND p_type <> ''""".stripMargin)),

    // item2vec (Barkan & Koenigstein 2016) on the bounded subgraph —
    // SGNS over per-user rating baskets, deterministic mean-pooled
    // user vectors, the q40 golden scheme (pin_order total-orders the
    // sentence list + threads=1)
    Query("q176_item2vec_recs", uses = Seq(tsSplit), run = (s, dir) =>
      graft.model.Item2Vec.recs(s,
        trainRatings(s, dir).filter(col("user_id") < 200),
        minRating = 4.0, dim = 16, window = 100, epochs = 3, lr = 0.025,
        negative = 5, seed = 42L, k = 5, pinOrder = true),
      oracle = (R +
      """SELECT user_id, item_id, rank
        |FROM '/root/repo/goldens/q176_item2vec_recs.parquet'
        |WHERE n_ratings = (SELECT COUNT(*) FROM ratings)""".stripMargin))
  )

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
}
