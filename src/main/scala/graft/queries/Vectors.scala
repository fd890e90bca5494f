package graft.queries

import graft.knn.CosineKnn
import graft.text.Dedup
import Shared._
import org.apache.spark.sql.functions._

/** Embedding vectors: exact and approximate nearest neighbours, quantization, projection, clustering. */
object Vectors {

  val all: Seq[Query] = Seq(

    // J6/F12: exact top-3 cosine neighbors for the first 50 vectors
    Query("q21_cosine_topk", run = (s, dir) => {
      val e = T(s, dir, "embeddings")
        .select(col("vec_id").as("id"),
          expr("transform(embedding, x -> cast(x as double))").as("vec"))
      CosineKnn.topK(e.filter(col("id") < 50), e, 3, excludeSelf = true)
        .select(col("query_id"), col("item_id").as("neighbor_id"), col("rank"),
          round(col("score"), 6).as("cos_r"))
    },
      oracle = """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sc AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |        list_dot_product(q.v, e.v) /
        |        (SQRT(list_dot_product(q.v, q.v)) * SQRT(list_dot_product(e.v, e.v))) AS cos
        |      FROM e q, e WHERE q.vec_id < 50 AND q.vec_id <> e.vec_id)
        |SELECT query_id, neighbor_id, rank, ROUND(cos, 6) AS cos_r FROM (
        |  SELECT query_id, neighbor_id, cos,
        |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM sc) WHERE rank <= 3""".stripMargin),

    // approximate similarity search: LSH-bucketed ANN over embeddings
    // (golden-parquet oracle: deterministic under seed 42, but MLlib's
    // random hyperplanes aren't SQL-replayable; exactness is
    // cross-checked against CosineKnn.topK in tests)
    Query("q22_ann_lsh", run = (s, dir) => {
      val e = T(s, dir, "embeddings")
        .select(col("vec_id").as("id"),
          expr("transform(embedding, x -> cast(x as double))").as("vec"))
      CosineKnn.approxTopK(e.filter(col("id") < 50), e, 5, excludeSelf = true)
        .select("query_id", "item_id", "rank")
    },
      // ANN index replays (r11 golden→replay conversion; AnnReplaySql):
      // q22's LSH hyperplanes are data-independent seeded constants;
      // q52's centroids are stashed from the run's own KMeans fit
      oracle = graft.oracle.AnnReplaySql.q22Sql),

    // embedding-cosine near-dup pairs
    Query("q34_embedding_neardup", run = (s, dir) =>
      Dedup.embeddingNearDup(
        T(s, dir, "embeddings").select(col("vec_id").as("id"),
          expr("transform(embedding, x -> cast(x as double))").as("vec")), 0.45),
      oracle = """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  ROUND(list_dot_product(a.v, b.v) /
        |        (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v))), 6) AS cos
        |FROM e a, e b
        |WHERE a.vec_id < b.vec_id
        |  AND list_dot_product(a.v, b.v) /
        |      (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v))) >= 0.45""".stripMargin),

    // approximate similarity search, IVF variant: k-means inverted lists,
    // nProbe-list candidate scan, exact re-rank (golden-parquet oracle
    // like q22: k-means|| init isn't SQL-replayable; recall and the
    // nProbe=nLists==exact degeneracy are spec-pinned)
    Query("q52_ann_ivf", run = (s, dir) => {
      val e = T(s, dir, "embeddings")
        .select(col("vec_id").as("id"),
          expr("transform(embedding, x -> cast(x as double))").as("vec"))
      val out = CosineKnn.ivfTopK(e.filter(col("id") < 50), e, 5, nProbe = 16,
        excludeSelf = true)
      // the fit ran eagerly inside ivfTopK — stash its centroids for the
      // oracle builder (Verify dumps oracleSql AFTER the queries run)
      ivfCentroidStash = CosineKnn.lastIvfCentroidsTl.get()
      out.select("query_id", "item_id", "rank")
    },
      oracle = Option(ivfCentroidStash)
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
      }),

    // IVF in its exact-degenerate configuration (nProbe = nLists): every
    // list is probed, so the quantize -> probe -> re-rank plumbing must
    // reproduce the exhaustive top-k — which IS SQL-replayable, putting
    // the IVF path itself under the hash check. Score parity: both sides
    // normalize then dot with left-to-right accumulation (unlike q21's
    // dot/(|q||i|) form), bit-identical doubles before the round.
    Query("q53_ann_ivf_exact", run = (s, dir) => {
      val e = T(s, dir, "embeddings")
        .select(col("vec_id").as("id"),
          expr("transform(embedding, x -> cast(x as double))").as("vec"))
      CosineKnn.ivfTopK(e.filter(col("id") < 30), e, 4, nLists = 16, nProbe = 16,
          excludeSelf = true)
        .select(col("query_id"), col("item_id"), col("rank"),
          round(col("score"), 6).as("cos_r"))
    },
      // IVF-exhaustive == exact top-k; normalize-then-dot on both sides
      // (list_transform mirrors Spark's transform, both fold left-to-right)
      oracle = """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv FROM e),
        |sc AS (SELECT q.vec_id AS query_id, i.vec_id AS item_id,
        |        list_dot_product(q.nv, i.nv) AS cos
        |      FROM n q, n i WHERE q.vec_id < 30 AND q.vec_id <> i.vec_id)
        |SELECT query_id, item_id, rank, ROUND(cos, 6) AS cos_r FROM (
        |  SELECT query_id, item_id, cos,
        |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, item_id) AS rank
        |  FROM sc) WHERE rank <= 4""".stripMargin),

    // Symmetric int8 embedding quantization (Quantize.int8): per-vector
    // scale, exact integer code checksum, reconstruction RMSE — all
    // narrow array expressions inside codegen
    Query("q81_embed_quantize", run = (s, dir) =>
      graft.knn.Quantize.int8(T(s, dir, "embeddings"), "embedding")
        .select(col("vec_id"), round(col("scale"), 6).as("scale_r"),
          expr("aggregate(qvec, cast(0 as bigint), (a, q) -> a + abs(q))").as("sum_abs_q"),
          round(col("quant_rmse"), 4).as("rmse_r")),
      // replay of Quantize.int8: scale = max|x|/127, codes clamped
      // round(x/scale), exact integer checksum + round-4 RMSE
      oracle = """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127 AS scale FROM e),
        |q AS (SELECT vec_id, v, scale,
        |        list_transform(v, x -> CASE WHEN scale = 0 THEN 0
        |          ELSE CAST(GREATEST(-127, LEAST(127, ROUND(x / scale, 0))) AS INT) END) AS qv
        |      FROM s)
        |SELECT vec_id, CAST(ROUND(scale, 6) AS DOUBLE) AS scale_r,
        |  CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS sum_abs_q,
        |  CAST(ROUND(sqrt(list_sum(list_transform(generate_series(1, len(v)),
        |    i -> pow(v[i] - qv[i] * scale, 2))) / GREATEST(len(v), 1)), 4) AS DOUBLE) AS rmse_r
        |FROM q""".stripMargin),

    // SRP-LSH ANN with a fully SQL-replayable index (SrpLsh.srpTopK):
    // int8 codes × integer plane weights → sign-bit buckets — every
    // step integer-exact in both engines, so unlike the MLlib-RNG LSH
    // (q22, golden-pinned) the whole index is independently recomputed
    // by the oracle. Exact cosine re-rank on candidates only.
    Query("q85_ann_srp", run = (s, dir) => {
      val e = T(s, dir, "embeddings")
        .select(col("vec_id").as("id"),
          expr("transform(embedding, x -> cast(x as double))").as("vec"))
      graft.knn.SrpLsh.srpTopK(e.filter(col("id") < 50), e, dim = 64, k = 3,
          excludeSelf = true)
        .select(col("query_id"), col("item_id").as("neighbor_id"), col("rank"),
          round(col("score"), 6).as("cos_r"))
    },
      // full independent replay of SrpLsh.srpTopK: int8 quantize (the
      // q81 chain), Knuth-hash plane weights, integer sign-bit buckets,
      // (table, bucket) candidate join, exact cosine re-rank
      oracle = """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
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
        |  FROM sc) WHERE rank <= 3""".stripMargin),

    // Hard-negative mining (contrastive training): per query vector the
    // top-2 neighbors by cosine STRICTLY BELOW the 0.95 near-dup
    // ceiling — near-duplicates must never be served as negatives
    Query("q107_hard_negatives", run = (s, dir) => {
      val e = T(s, dir, "embeddings")
        .select(col("vec_id").as("id"),
          expr("transform(embedding, x -> cast(x as double))").as("vec"))
      CosineKnn.hardNegatives(e.filter(col("id") < 50), e, 2, 0.95)
        .select(col("query_id"), col("item_id").as("negative_id"), col("rank"),
          round(col("score"), 6).as("cos_r"))
    },
      // q21's scoring with the near-dup ceiling applied BEFORE the rank
      oracle = """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sc AS (SELECT q.vec_id AS query_id, e.vec_id AS negative_id,
        |        list_dot_product(q.v, e.v) /
        |        (SQRT(list_dot_product(q.v, q.v)) * SQRT(list_dot_product(e.v, e.v))) AS cos
        |      FROM e q, e WHERE q.vec_id < 50 AND q.vec_id <> e.vec_id)
        |SELECT query_id, negative_id, rank, ROUND(cos, 6) AS cos_r FROM (
        |  SELECT query_id, negative_id, cos,
        |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, negative_id) AS rank
        |  FROM sc WHERE cos < 0.95) WHERE rank <= 2""".stripMargin),

    // SemDeDup (Abbas et al. 2023): integer k-means over the q81 int8
    // codes bounds the quadratic near-dup scope to one cluster; the
    // cosine test runs in exact longs (10^4*dot^2 vs tau2*|a|^2*|b|^2)
    // so DuckDB replays cluster ids AND dup flags bit-for-bit
    Query("q115_semdedup", run = (s, dir) =>
      graft.knn.SemDeDup.semDedup(
        T(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, iters = 3, tau2PerTenK = 1225L),
      oracle = semDedupSql(k = 8, iters = 3, tau2 = 1225L)),

    // per-label embedding prototypes + spread over the q81 int8 codes —
    // exact integer centroid/tightness, the class-health readout
    Query("q120_label_prototypes", run = (s, dir) =>
      graft.knn.Prototypes.tightness(
        graft.knn.Quantize.int8(T(s, dir, "embeddings"), "embedding")
          .select(col("label"), col("qvec")), "label")
        .select(col("group").as("label"), col("n_vecs"),
          col("sum_d2"), col("mean_d2_e2")),
      // the q115 codes CTE grouped by label: floor-mean centroids and
      // exact squared-L2 spread, all in longs
      oracle = """WITH codes AS (
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
        |FROM d2 GROUP BY 1""".stripMargin),

    // int8-quantized cosine top-k: per-vector symmetric quantization
    // (scales cancel in cosine → exact-integer dots, order-free)
    Query("q183_quantized_knn", run = (s, dir) => {
      val e = T(s, dir, "embeddings")
        .select(col("vec_id").as("id"),
          expr("transform(embedding, x -> cast(x as double))").as("vec"))
      graft.knn.Quantize.cosTopK(e.filter(col("id") < 30), e, 3, excludeSelf = true)
        .select(col("query_id"), col("item_id"), col("rank"),
          round(col("qcos"), 6).as("qcos_r"))
    },
      // quantized kNN: same round/clamp quantization, exact-int dots
      oracle = """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
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
        |FROM r WHERE rank <= 3""".stripMargin),

    // product-quantization ANN (Jégou 2011): per-subspace integer
    // k-means codebooks over the q81 int8 codes, m-byte item codes,
    // ADC lookup-table scoring — the 16-32× 100-TB serving compressor;
    // exact-integer ADC sums make codebooks, codes AND scores
    // DuckDB-replayable (the q115/q183 recipe)
    Query("q188_pq_adc_knn", run = (s, dir) => {
      val e = T(s, dir, "embeddings")
        .select(col("vec_id").as("id"),
          expr("transform(embedding, x -> cast(x as double))").as("vec"))
      graft.knn.Pq.adcTopK(e, "id", "vec", col("id") < 30,
        m = 4, ksub = 8, iters = 2, k = 5, excludeSelf = true)
    },
      oracle = pqAdcSql(m = 4, ksub = 8, iters = 2, k = 5)),

    // IVF-ADC: coarse integer-k-means lists (partition-prunable at
    // cluster scale) restrict each query to nProbe lists; only those
    // candidates pay the PQ lookup sum — the faiss-style serving
    // composition, exact-integer end to end (residual-free variant)
    Query("q190_ivf_adc_knn", run = (s, dir) => {
      val e = T(s, dir, "embeddings")
        .select(col("vec_id").as("id"),
          expr("transform(embedding, x -> cast(x as double))").as("vec"))
      graft.knn.Pq.ivfAdcTopK(e, "id", "vec", col("id") < 30,
        kc = 8, nProbe = 3, m = 4, ksub = 8, iters = 2, k = 5,
        excludeSelf = true)
    },
      oracle = ivfAdcSql(kc = 8, nProbe = 3, m = 4, ksub = 8,
      iters = 2, k = 5)),

    // residual IVF-PQ (faiss IVFPQ proper): product codebooks encode
    // v − c(list), the recall lever; scoring decomposes into
    // dot(q,c) + residual LUT sums with an integer coarse×residual
    // cross table — exact-integer end to end
    Query("q192_ivfpq_residual_knn", run = (s, dir) => {
      val e = T(s, dir, "embeddings")
        .select(col("vec_id").as("id"),
          expr("transform(embedding, x -> cast(x as double))").as("vec"))
      graft.knn.Pq.ivfPqTopK(e, "id", "vec", col("id") < 30,
        kc = 8, nProbe = 3, m = 4, ksub = 8, iters = 2, k = 5,
        excludeSelf = true)
    },
      oracle = ivfPqSql(kc = 8, nProbe = 3, m = 4,
      ksub = 8, iters = 2, k = 5)),

    // JL random projection (Achlioptas ±1 coins, hash-derived): the
    // map-only dim-reduction front end for every ANN stage — the sign
    // matrix is re-derived from md5(i|j|seed) so the oracle rebuilds
    // it from (d, d', seed); integer micro-unit sums, zero exchanges
    Query("q207_random_projection", run = (s, dir) =>
      graft.knn.RandomProjection.project(
        T(s, dir, "embeddings"), dProj = 8, seed = 42L),
      // JL projection: rebuild the ±1 sign matrix from md5(i|j|seed),
      // quantize to micro-units, exact integer group-sum per (id, j)
      oracle = """WITH q AS (SELECT vec_id,
        |        list_transform(embedding,
        |          x -> CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT)) AS qv
        |      FROM embeddings),
        |sgn AS (SELECT i, j,
        |        CASE WHEN ('0x'||substr(md5(i||'|'||j||'|42'),1,13))::UBIGINT & 1 = 1
        |             THEN -1 ELSE 1 END AS s
        |      FROM generate_series(0, 63) g(i), generate_series(0, 7) h(j))
        |SELECT vec_id, CAST(j AS INT) AS dim, CAST(SUM(qv[i+1] * s) AS BIGINT) AS p
        |FROM q, sgn
        |GROUP BY 1, 2""".stripMargin),

    // one-pass exact-integer Gram/covariance moments (the PCA front
    // end for PQ rotation): ONE typed Aggregator ships a single
    // [n | s | upper-tri G] long array per partition — d(d+1)/2 tidy
    // moment rows out, milli-quantized so the oracle replays exactly
    Query("q218_pca_gram", run = (s, dir) =>
      graft.knn.Pca.gram(T(s, dir, "embeddings")),
      // PCA moments: milli-quantize, then exact integer (n, s_i, s_j,
      // G_ij) per unordered dim pair — the one-aggregation Gram replay
      oracle = """WITH q AS (SELECT list_transform(embedding,
        |        x -> CAST(round(CAST(x AS DOUBLE) * 1e3, 0) AS BIGINT)) AS qv
        |      FROM embeddings WHERE embedding IS NOT NULL),
        |p AS (SELECT i, j FROM generate_series(0, 63) g(i),
        |        generate_series(0, 63) h(j) WHERE i <= j)
        |SELECT CAST(p.i AS INT) AS i, CAST(p.j AS INT) AS j,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(qv[p.i+1]) AS BIGINT) AS sum_i,
        |  CAST(SUM(qv[p.j+1]) AS BIGINT) AS sum_j,
        |  CAST(SUM(qv[p.i+1] * qv[p.j+1]) AS BIGINT) AS gram
        |FROM q, p GROUP BY 1, 2""".stripMargin),

    // grid-cell DBSCAN in a 2-D JL projection (MR-DBSCAN shape):
    // 3^dim neighbor-cell candidate join — never all-pairs — core CC
    // labeled by min id, border -> smallest core-neighbor cluster,
    // exact integer geometry end to end
    Query("q219_dbscan_clusters", run = (s, dir) =>
      graft.knn.Dbscan.clusterEmbeddings(T(s, dir, "embeddings"),
        dim = 2, eps = 150000L, minPts = 5, seed = 42L),
      // DBSCAN: the q207 projection at d'=2, all-pairs eps test (oracle
      // scale only), neighbor counts -> cores, recursive min-label CC
      // over core-core pairs (the q37 scheme), border -> min core cluster
      oracle = """WITH RECURSIVE q AS (SELECT vec_id, list_transform(embedding,
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
        |        LEFT JOIN borderlbl b ON b.id = pt.id""".stripMargin)
  )

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

  /** Centroids the q52 query fn stashed from its own ivfTopK fit —
    * read by the q52 oracle builder when Verify dumps oracleSql (which
    * happens strictly after the queries run; see AnnReplaySql). */
  @volatile private var ivfCentroidStash: Array[(Int, Array[Double])] = _
}
