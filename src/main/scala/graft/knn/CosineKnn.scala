package graft.knn

import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact and approximate top-k cosine-similarity joins (SURVEY §2.3 J6).
  *
  * The reference does brute-force cosine kNN with sklearn
  * (`deep_walk_based/model.py:54-80`, `transE/model.py:137-155`). The
  * exact variant here is one scoring loop, [[scoreTopK]], which a
  * driver-regime fold runs on its own arrays ([[graft.walk.DriverFold]])
  * and the fused kernel runs per query partition, plus one Spark kernel
  * per item-side band in [[topK]]: fused, and shuffle-combine for item
  * sides too large to collect.
  *
  * [[approxTopK]] is the 100 TB path: BucketedRandomProjectionLSH over
  * L2-normalized vectors (Euclidean distance on the unit sphere is a
  * monotone transform of cosine distance: d² = 2 − 2·cos). Flagged, not
  * default — oracle tests pin the exact variant.
  */
object CosineKnn {

  /** Sum of elementwise products, accumulated left-to-right in index
    * order (bit-reproducible across partitionings). Backed by the
    * codegen'd [[graft.functions.ArrayDot]] — the HOF formulation
    * (aggregate over zip_with) allocates an intermediate array per row,
    * which dominates O(n²) similarity joins. */
  def dot(a: String, b: String): org.apache.spark.sql.Column =
    graft.functions.ArrayDot(col(a), col(b))

  def l2norm(a: String): org.apache.spark.sql.Column =
    sqrt(graft.functions.ArrayDot(col(a), col(a)))

  /** queries/items: (id, vec: array<double>), both ids of one type among
    * long, int, string and double (any other is rejected by name).
    * Output: (query_id, item_id, score, rank) with rank 1..k by cosine
    * similarity desc, ties broken by item id (deterministic). Self-pairs,
    * and pairs with a null id, are excluded when `excludeSelf`; scores at
    * or above `scoreCeiling` are rejected at scoring time.
    *
    * [[kernel]] picks one of two value-identical Spark kernels from the
    * item count:
    *
    *  - items above 1M rows (≈ 1.2 GB of 150-dim doubles): NEVER
    *    collected to the driver — the scoring cartesian feeds a map-side
    *    bounded-heap combine ([[topKShuffleCombine]]), so the exchange
    *    carries at most n_queries × n_partitions × k candidate rows,
    *    never the N×M scored stream. At this scale [[approxTopK]] is
    *    still the recommended path; this is the exact fallback that
    *    survives it.
    *  - otherwise: the fused kernel ([[topKCompute]]). A relational
    *    crossJoin + ranking window would materialize an N×M row stream
    *    where EVERY row carries both dim-sized vectors — ~75 GB of row
    *    traffic for 1.5k users × 20k items × 150 dims. Instead the item
    *    matrix broadcasts as primitive arrays and [[scoreTopK]] runs per
    *    query partition, emitting only the top-k rows.
    *
    * Dispatch runs `count()` on the item side — cache inputs with
    * expensive lineage before calling, as the recommenders do with their
    * embedding tables, or pass the size you already know via
    * `knownItemCount` (≥ 0) and the gating scan is skipped entirely.
    */
  def topK(queries: DataFrame, items: DataFrame, k: Int, excludeSelf: Boolean = false,
           knownItemCount: Long = -1L, scoreCeiling: Option[Double] = None): DataFrame = {
    import org.apache.spark.sql.types._
    val (qType, iType) = (queries.schema("id").dataType, items.schema("id").dataType)
    require(qType == iType && (qType match {
      case LongType | IntegerType | StringType | DoubleType => true
      case _ => false
    }), s"CosineKnn.topK: query and item ids must share one of the types bigint, int, " +
      s"string, double; got ${qType.simpleString} and ${iType.simpleString}")
    kernel(if (knownItemCount >= 0L) knownItemCount else items.count()) match {
      case "shuffle-combine" => topKShuffleCombine(queries, items, k, excludeSelf, scoreCeiling)
      case _ => topKCompute(queries, items, k, excludeSelf, scoreCeiling)
    }
  }

  /** Most item rows the fused kernel collects to the driver. */
  private val CollectMaxRows = 1000000L

  /** The kernel [[topK]] runs for `nItems` items: "shuffle-combine" or
    * "fused". */
  private[graft] def kernel(nItems: Long): String =
    if (nItems > CollectMaxRows) "shuffle-combine" else "fused"

  /** The centroids the last [[ivfTopK]] call on this thread fit —
    * `(list_id, center)` rows, read by the q52 oracle builder. */
  private[graft] val lastIvfCentroidsTl = new ThreadLocal[Array[(Int, Array[Double])]]

  /** `sqrt(dot(v, v))`, accumulated left to right: the [[l2norm]] of
    * [[topKShuffleCombine]]'s SQL scoring. */
  private[graft] def norm(v: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    math.sqrt(s)
  }

  /** The one exact scoring loop, shared by the fused kernel and the
    * driver recommend path ([[graft.walk.DriverFold]]): the cosine of `qv`
    * against every item index not `skip`ped, scored exactly as the SQL
    * plan of [[topKShuffleCombine]] scores it (left-to-right dot, `norms`
    * from [[norm]], zero vectors at the -2.0 sentinel), keeping the best `k` by (score
    * desc, index asc) in a bounded worst-first heap. Scores at or above
    * `ceiling` are rejected before the heap. Items sorted by id make the
    * index tie-break the (score desc, item_id asc) one. Returns
    * (score, index) pairs, best first. */
  private[graft] def scoreTopK(qv: Array[Double], vecs: Array[Array[Double]], norms: Array[Double],
                               k: Int, ceiling: Double, skip: Int => Boolean): Seq[(Double, Int)] = {
    if (k <= 0) return Seq.empty
    val qn = norm(qv)
    val heap = new scala.collection.mutable.PriorityQueue[(Double, Int)]()(worseFirst)
    var idx = 0
    while (idx < vecs.length) {
      if (!skip(idx)) {
        val iv = vecs(idx)
        val n = math.min(qv.length, iv.length)
        var dot = 0.0; var j = 0
        while (j < n) { dot += qv(j) * iv(j); j += 1 }
        val denom = qn * norms(idx)
        // zero vectors (F14 zero-fill) score below any true cosine
        val score = if (denom > 0) dot / denom else -2.0
        // ceiling rejection happens at scoring time, never in the heap
        if (score < ceiling) {
          if (heap.size < k) heap.enqueue((score, idx))
          else if (worseFirst.compare((score, idx), heap.head) < 0) {
            heap.dequeue(); heap.enqueue((score, idx))
          }
        }
      }
      idx += 1
    }
    heap.dequeueAll.reverse
  }

  // worst-kept-first ordering: the PQ dequeues its "greatest", which we
  // define as the worst candidate under (score desc, idx asc)
  private val worseFirst: Ordering[(Double, Int)] = new Ordering[(Double, Int)] {
    def compare(a: (Double, Int), b: (Double, Int)): Int = {
      val c = java.lang.Double.compare(b._1, a._1)
      if (c != 0) c else java.lang.Integer.compare(a._2, b._2)
    }
  }

  /** The fused kernel: the item matrix broadcast as primitive arrays,
    * [[scoreTopK]] per query partition. */
  private[graft] def topKCompute(queries: DataFrame, items: DataFrame, k: Int,
                                 excludeSelf: Boolean,
                                 scoreCeiling: Option[Double] = None): DataFrame = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val spark = queries.sparkSession
    val idType = queries.schema("id").dataType
    // item matrix, pre-sorted by id so (score desc, index asc) ranks
    // exactly like (score desc, item_id asc) — Spark's orderBy uses the
    // same binary/numeric collation as the ranking window would
    val itemRows = items.select(col("id"), col("vec")).orderBy("id").collect()
    val itemIds = itemRows.map(_.get(0))
    val itemVecs = itemRows.map(_.getSeq[Double](1).toArray)
    val itemNorms = itemVecs.map(norm)
    val bc = spark.sparkContext.broadcast((itemIds, itemVecs, itemNorms))
    val sc = spark.sparkContext
    val parts = math.max(sc.defaultParallelism, queries.rdd.getNumPartitions)
    val q = queries.select(col("id").as("query_id"), col("vec").as("qv"))
      .repartition(parts, col("query_id"))
    // ceiling as a plain double so the hot loop carries no Option deref;
    // any true cosine is < +inf, so "no ceiling" admits everything
    val ceilV = scoreCeiling.getOrElse(Double.PositiveInfinity)
    val out = q.rdd.mapPartitions { it =>
      val (ids, vecs, norms) = bc.value
      it.flatMap { r =>
        val qid = r.get(0)
        // a null id compares unknown under SQL's `=!=`, so excludeSelf
        // drops its pairs, as the shuffle-combine kernel's filter does
        val best = scoreTopK(r.getSeq[Double](1).toArray, vecs, norms, k, ceilV,
          skip = idx => excludeSelf && (qid == null || ids(idx) == null || ids(idx) == qid))
        best.iterator.zipWithIndex.map { case ((score, ix), rank) =>
          Row(qid, ids(ix), score, rank + 1)
        }
      }
    }
    spark.createDataFrame(out, StructType(Seq(
      StructField("query_id", idType), StructField("item_id", idType),
      StructField("score", DoubleType), StructField("rank", IntegerType, nullable = false))))
  }

  /** Hard-negative mining for contrastive training: per query, the
    * top-`k` neighbors by cosine STRICTLY BELOW `simCeiling` — anything
    * at or above the ceiling is a near-duplicate (a positive in
    * disguise) and must not be served as a negative, while the highest
    * scorers under it are the hard negatives a contrastive objective
    * learns most from.
    *
    * Routes through the same size-gated [[topK]] dispatch as every
    * other exact-kNN entry point, with the ceiling pushed into each
    * kernel at scoring time: both kernels reject before the bounded-heap
    * insert — so an item side too large to broadcast takes the
    * shuffle-combine path instead of OOMing a forced broadcast (the r9
    * plan hard-wired `broadcast(items)` regardless of size). Zero
    * vectors (score sentinel -2) rank last as everywhere else. */
  def hardNegatives(queries: DataFrame, items: DataFrame, k: Int,
                    simCeiling: Double): DataFrame =
    topK(queries, items, k, excludeSelf = true, scoreCeiling = Some(simCeiling))

  /** Exact top-k for item sides too large to broadcast OR collect: the
    * scoring cartesian is consumed in-stage by a map-side bounded-heap
    * combine (`aggregateByKey`), so the only exchange carries at most
    * n_queries × n_input_partitions × k (id, score) pairs — the N×M
    * scored stream never crosses the wire, and nothing touches the
    * driver. Same tie-break as the fused kernel: (score desc, item_id
    * asc); merging bounded heaps is order-independent under that total
    * order, so results are deterministic under any partitioning.
    *
    * It scores in SQL ([[dot]] / [[l2norm]]), not through
    * [[scoreTopK]], so the tests' fused == shuffle-combine pins compare
    * two independent scorings. */
  private[graft] def topKShuffleCombine(queries: DataFrame, items: DataFrame, k: Int,
                                        excludeSelf: Boolean,
                                        scoreCeiling: Option[Double] = None): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = queries.sparkSession
    val idType = queries.schema("id").dataType
    val q = queries.select(col("id").as("query_id"), col("vec").as("qv"))
      .withColumn("qn", l2norm("qv"))
    val it = items.select(col("id").as("item_id"), col("vec").as("iv"))
      .withColumn("in", l2norm("iv"))
    val scoredAll = q.crossJoin(it)
      .filter(if (excludeSelf) col("query_id") =!= col("item_id") else lit(true))
      // zero vectors (F14 zero-fill) score below any true cosine (< -1)
      .withColumn("score",
        when(col("qn") * col("in") > 0, dot("qv", "iv") / (col("qn") * col("in")))
          .otherwise(lit(-2.0)))
      .select("query_id", "item_id", "score")
    // ceiling rejection inside the codegen'd scoring stage — rejected
    // rows never reach the heap insert or the (already skinny) exchange
    val scored = scoreCeiling.fold(scoredAll)(c => scoredAll.filter(col("score") < c))
    // the fused kernel's item order, Spark's ascending sort: nulls
    // first, strings by UTF-8 bytes (not String.compareTo's UTF-16 units)
    val cmpValue: (Any, Any) => Int = idType match {
      case LongType    => (a, b) => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
      case IntegerType => (a, b) => java.lang.Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
      case DoubleType  => (a, b) => java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
      case _           => (a, b) =>
        graft.walk.DriverFold.idOrder.compare(a.asInstanceOf[String], b.asInstanceOf[String])
    }
    val cmpId: (Any, Any) => Int = (a, b) =>
      if (a == null || b == null) java.lang.Boolean.compare(b == null, a == null) else cmpValue(a, b)
    // PQ dequeues its "greatest" = the WORST candidate under
    // (score desc, item asc) — identical to the fused kernel's ordering
    val worseGreater: Ordering[(Double, Any)] = new Ordering[(Double, Any)] {
      def compare(a: (Double, Any), b: (Double, Any)): Int = {
        val c = java.lang.Double.compare(b._1, a._1)
        if (c != 0) c else cmpId(a._2, b._2)
      }
    }
    def push(h: scala.collection.mutable.PriorityQueue[(Double, Any)],
             c: (Double, Any)): scala.collection.mutable.PriorityQueue[(Double, Any)] = {
      if (h.size < k) h.enqueue(c)
      else if (worseGreater.compare(c, h.head) < 0) { h.dequeue(); h.enqueue(c) }
      h
    }
    val combined = scored.rdd
      .map(r => r.get(0) -> (r.getDouble(2), r.get(1)))
      .aggregateByKey(new scala.collection.mutable.PriorityQueue[(Double, Any)]()(worseGreater))(
        push, (h1, h2) => { h2.foreach(push(h1, _)); h1 })
    val out = combined.flatMap { case (qid, heap) =>
      val best: Seq[(Double, Any)] = heap.dequeueAll.reverse
      best.iterator.zipWithIndex.map { case ((score, id), rank) =>
        Row(qid, id, score, rank + 1)
      }
    }
    spark.createDataFrame(out, StructType(Seq(
      StructField("query_id", idType), StructField("item_id", idType),
      StructField("score", DoubleType), StructField("rank", IntegerType, nullable = false))))
  }

  /** Approximate variant for item sides too large to broadcast:
    * LSH-bucketed join on normalized vectors, then exact re-rank within
    * the candidate set.
    *
    * The candidate bound derives from `targetCos` exactly as
    * [[graft.text.Dedup.embeddingNearDupLsh]] does: on the unit sphere
    * d² = 2 − 2·cos, so the Euclidean threshold sqrt(2 − 2·targetCos)
    * admits precisely the pairs at or above the target similarity.
    * (r2 shipped a fixed 1.4 distance bound ⇒ cos ≥ 0.02 — every pair
    * qualified and the "ANN" degenerated to all-pairs with hashing
    * overhead on top.) Neighbors below `targetCos` are dropped even if
    * fewer than k remain — an ANN search is a similarity floor plus a
    * rank cutoff, not a guarantee of k results. */
  def approxTopK(queries: DataFrame, items: DataFrame, k: Int,
                 targetCos: Double = 0.2, bucketLength: Double = 0.25,
                 numHashTables: Int = 4, excludeSelf: Boolean = false): DataFrame = {
    def normalized(df: DataFrame, idCol: String) = df.select(
      col("id").as(idCol),
      array_to_vector(expr("transform(vec, x -> x / sqrt(aggregate(vec, cast(0.0 as double), (a, v) -> a + v * v)))"))
        .as("features"))
    val q = normalized(queries, "query_id")
    val it = normalized(items, "item_id")
    val lsh = new BucketedRandomProjectionLSH()
      .setBucketLength(bucketLength).setNumHashTables(numHashTables)
      .setInputCol("features").setOutputCol("hashes").setSeed(42L)
    val model = lsh.fit(it)
    val distThreshold = math.sqrt(math.max(0.0, 2.0 - 2.0 * targetCos))
    val joined = model.approxSimilarityJoin(q, it, distThreshold, "dist")
      .select(col("datasetA.query_id").as("query_id"),
        col("datasetB.item_id").as("item_id"),
        // cos = 1 - d²/2 for unit vectors
        (lit(1.0) - col("dist") * col("dist") / 2.0).as("score"))
      // self-pairs must leave BEFORE ranking or they burn a top-k slot
      .filter(if (excludeSelf) col("query_id") =!= col("item_id") else lit(true))
    joined
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("score").desc, col("item_id"))))
      .filter(col("rank") <= k)
  }

  /** IVF (inverted-file) ANN — the second scale path next to the LSH
    * variant: a k-means coarse quantizer partitions the item side into
    * `nLists` inverted lists; each query probes only its `nProbe`
    * nearest lists and re-ranks exactly inside them, scanning
    * ~nProbe/nLists of the items instead of all of them.
    *
    * Spark shape: the quantizer is fit on a bounded sample (≤100k rows);
    * item assignment is a narrow map under broadcast centroids; query →
    * probe-list ranking is a broadcast crossJoin against the (tiny)
    * centroid table; the candidate join shuffles BOTH sides by list id —
    * co-located, never all-pairs. Uneven list sizes are the classic IVF
    * skew; AQE's skew-join split handles the hot lists, and `nLists ~
    * sqrt(n)` keeps lists near sqrt-sized. All scoring is the codegen'd
    * [[graft.functions.ArrayDot]] on L2-normalized vectors (cosine =
    * dot on the unit sphere; probing uses the same Euclidean metric the
    * quantizer assigns by, d² = |c|² − 2·q·c + 1).
    *
    * With `nProbe >= nLists` the candidate set is the full item side and
    * the result equals the exact [[topK]] pair set — pinned by spec.
    * Like [[approxTopK]], an ANN search may return < k rows per query. */
  def ivfTopK(queries: DataFrame, items: DataFrame, k: Int,
              nLists: Int = 0, nProbe: Int = 8, seed: Long = 42L,
              excludeSelf: Boolean = false, maxFitRows: Int = 100000): DataFrame = {
    require(k > 0 && nProbe > 0, s"ivfTopK: k and nProbe must be positive (k=$k, nProbe=$nProbe)")
    val spark = items.sparkSession
    // zero vectors (the F14 zero-fill sentinel) normalize to zeros, not
    // NaN — NaN scores sort FIRST under desc and would silently break the
    // nProbe >= nLists == topK degeneracy the spec pins. The `zero` flag
    // lets scoring assign them the same -2.0 rank-last sentinel the exact
    // kernels use.
    def unit(df: DataFrame, idCol: String, vecCol: String, zeroCol: String) = df
      // hoist the squared norm out of the per-element lambda (computing
      // it inside transform would be O(dim²) per row)
      .withColumn("_n2", expr("aggregate(vec, cast(0.0 as double), (a, v) -> a + v * v)"))
      .select(
        col("id").as(idCol),
        expr("transform(vec, x -> if(_n2 = 0.0d, 0.0d, x / sqrt(_n2)))").as(vecCol),
        (col("_n2") === 0.0).as(zeroCol))
    // persist through the quantizer fit: count + every Lloyd iteration
    // scans this (MLlib KMeans does not cache its input); released once
    // the centroids are extracted (try/finally — a fit failure must not
    // leak the cached blocks) — the final candidate join then re-derives
    // the (cheap) normalize once
    val it = unit(items, "item_id", "ivec", "izero")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = unit(queries, "query_id", "qvec", "qzero")

    val (model, lists) =
      try {
        val nItems = it.count()
        require(nItems > 0, "ivfTopK: empty item side")
        // never ask the quantizer for more cells than points
        val lists = math.min(nItems,
          if (nLists > 0) nLists.toLong else math.max(2, math.sqrt(nItems.toDouble).toInt).toLong).toInt
        // quantizer centroids only need to be REPRESENTATIVE — fit on a
        // bounded sample so training never scans a 100 TB item side
        val fitInput = {
          val base = it.select(array_to_vector(col("ivec")).as("features"))
          // oversample 1.2x then hard-limit: sample() is probabilistic and a
          // tiny fraction could return fewer rows than lists
          if (nItems > maxFitRows)
            base.sample(withReplacement = false,
              math.min(1.0, 1.2 * maxFitRows / nItems), seed).limit(maxFitRows)
          else base
        }
        // a coarse quantizer needs representative cells, not converged
        // clusters: random init + a few Lloyd iterations (k-means|| init
        // alone costs more scans than the whole training afterwards)
        (new org.apache.spark.ml.clustering.KMeans()
          .setK(lists).setSeed(seed).setMaxIter(5).setInitMode("random")
          .setFeaturesCol("features").setPredictionCol("list_id")
          .fit(fitInput), lists)
      } finally it.unpersist(blocking = false)

    // centroids observable for the q52 oracle builder: DuckDB replays
    // assignment → probe → score → rank from raw data, carrying only
    // these constants (MLlib KMeans internals aren't SQL-replayable)
    lastIvfCentroidsTl.set(model.clusterCenters.zipWithIndex.map {
      case (c, i) => (i, c.toArray)
    })

    // a single broadcast row carrying every centroid: per-row assignment
    // is then a narrow HOF over that array — row counts stay n × probes,
    // never n × nLists (a crossJoin-and-rank here would materialize
    // nItems × nLists rows, which does not survive a 100× scale-up)
    import spark.implicits._
    val centRow = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      val arr = c.toArray
      (i, arr, arr.map(x => x * x).sum)
    }.toSeq.toDF("list_id", "cvec", "cnorm2")
      .agg(collect_list(struct(col("cnorm2"), col("list_id"), col("cvec"))).as("cents"))

    // nearest `probes` lists by the quantizer's own metric: for unit v,
    // argmin |v - c|^2 = argmin |c|^2 - 2 v·c
    def cdist(vecCol: String) =
      s"""c.cnorm2 - 2.0D * aggregate(zip_with($vecCol, c.cvec, (x, y) -> x * y),
         |                            cast(0.0 as double), (a, v) -> a + v)""".stripMargin
    def assign(df: DataFrame, idCol: String, vecCol: String, zeroCol: String,
               probes: Int) = df
      .crossJoin(broadcast(centRow))
      .select(col(idCol), col(vecCol), col(zeroCol),
        explode(
          if (probes == 1)
            // top-1 is a running argmin — O(L) with no struct array or
            // sort; at nLists ~ sqrt(n) the O(L log L) sort below would
            // be the dominant per-item cost of the assignment stage
            expr(
              s"""array(aggregate(cents,
                 |  named_struct('cdist', cast('Infinity' as double), 'list_id', -1),
                 |  (acc, c) -> if (${cdist(vecCol)} < acc.cdist,
                 |              named_struct('cdist', ${cdist(vecCol)}, 'list_id', c.list_id),
                 |              acc)).list_id)""".stripMargin)
          else
            expr(
              s"""transform(
                 |  slice(array_sort(transform(cents, c -> named_struct(
                 |    'cdist', ${cdist(vecCol)},
                 |    'list_id', c.list_id))), 1, $probes),
                 |  p -> p.list_id)""".stripMargin)).as("list_id"))
    val assigned = assign(it, "item_id", "ivec", "izero", 1)
    val probed = assign(q, "query_id", "qvec", "qzero", math.min(nProbe, lists))

    probed.join(assigned, Seq("list_id"))
      .filter(if (excludeSelf) col("query_id") =!= col("item_id") else lit(true))
      // zero vectors carry the same -2.0 rank-last sentinel the exact
      // kernels use (cosine is undefined for them)
      .withColumn("score",
        when(col("qzero") || col("izero"), lit(-2.0))
          .otherwise(graft.functions.ArrayDot(col("qvec"), col("ivec"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("score").desc, col("item_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "item_id", "score", "rank")
  }
}
