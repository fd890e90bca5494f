package graft.eval

import graft.graph.KGraph
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

/** MAP@k and nDCG@k as distributed DataFrame aggregations, mirroring
  * `framework/evaluator/metrics/map.py` and `ndcg.py` plus the shared
  * relevance filter of `framework/evaluator/metric.py:19-36`.
  *
  * Inputs:
  *  - recs: (user_id, item_id, rank) with rank 1-based, unique per user
  *  - test: (user_id, item_id, rating)
  *
  * Reference semantics preserved:
  *  - only test items with rating >= relevanceThreshold are relevant
  *    (metric.py:25-31);
  *  - users with zero relevant test items are dropped from the mean
  *    (metric.py:33-34);
  *  - recommendations are truncated to the first k (map.py:19-20);
  *  - AP denominator is min(|relevant|, k) (map.py:32);
  *  - DCG uses graded relevance rel/log2(pos+2) with 0-based pos
  *    (ndcg.py:21-28); IDCG is the relevant ratings sorted descending,
  *    truncated to k (ndcg.py:40-44); nDCG = 0 when IDCG = 0
  *    (ndcg.py:45-46 — unreachable here because relevant users have at
  *    least one positive-rated item).
  *
  * Shuffle shape: one join of recs against the (much smaller) relevant
  * set on (user_id, item_id), then per-user windows — all partitioned by
  * user_id, so the whole metric pipeline is a single exchange.
  */
object Metrics {

  /** Test items at/above the relevance threshold (metric.py:25-31). */
  def relevant(test: DataFrame, relevanceThreshold: Double): DataFrame =
    test.filter(col("rating") >= relevanceThreshold)
      .select("user_id", "item_id", "rating")

  /** Per-user average precision at k -> (user_id, ap). */
  def apPerUser(recs: DataFrame, test: DataFrame, k: Int, relevanceThreshold: Double): DataFrame = {
    val rel = relevant(test, relevanceThreshold)
    val nrel = rel.groupBy("user_id").agg(count(lit(1)).as("nrel"))
    // a duplicate recommendation still consumes its position but is not
    // re-counted as a hit (map.py:29: `rec not in recommendations[:i]`)
    val occ = Window.partitionBy("user_id", "item_id").orderBy("rank")
    val hits = recs.filter(col("rank") <= k)
      .join(nrel, Seq("user_id")) // inner: drops users with no relevant items
      .join(rel.select(col("user_id"), col("item_id"), lit(1).as("hit")),
        Seq("user_id", "item_id"), "left")
      .withColumn("hit", coalesce(col("hit"), lit(0)))
      .withColumn("hit", when(row_number().over(occ) === 1, col("hit")).otherwise(0))
    val w = Window.partitionBy("user_id").orderBy("rank")
    hits
      .withColumn("cum_hits", sum("hit").over(w))
      .groupBy("user_id", "nrel")
      .agg(sum(col("hit") * col("cum_hits") / col("rank").cast("double")).as("ap_sum"))
      .select(col("user_id"),
        (col("ap_sum") / least(col("nrel"), lit(k)).cast("double")).as("ap"))
  }

  /** Per-user nDCG at k -> (user_id, ndcg). */
  def ndcgPerUser(recs: DataFrame, test: DataFrame, k: Int, relevanceThreshold: Double): DataFrame = {
    val rel = relevant(test, relevanceThreshold)
    // IDCG: relevant ratings per user, sorted desc, truncated to k (ndcg.py:40-44)
    val iw = Window.partitionBy("user_id").orderBy(col("rating").desc, col("item_id"))
    val idcg = rel
      .withColumn("pos", row_number().over(iw))
      .filter(col("pos") <= k)
      .groupBy("user_id")
      .agg(sum(col("rating") / log2(col("pos").cast("double") + 1.0)).as("idcg"))
    // DCG: graded relevance of each recommended item, 0 when not relevant (ndcg.py:28-38)
    recs.filter(col("rank") <= k)
      .join(idcg, Seq("user_id")) // inner: only users with >= 1 relevant item
      .join(rel.withColumnRenamed("rating", "rel_rating"),
        Seq("user_id", "item_id"), "left")
      .withColumn("rel_rating", coalesce(col("rel_rating"), lit(0.0)))
      .groupBy("user_id", "idcg")
      .agg(sum(col("rel_rating") / log2(col("rank").cast("double") + 1.0)).as("dcg"))
      .select(col("user_id"),
        when(col("idcg") > 0.0, col("dcg") / col("idcg")).otherwise(0.0).as("ndcg"))
  }

  /** Serendipity@k (Ge et al. 2010, simplified to the standard
    * primitive-baseline form): the share of a user's top-k that is
    * both RELEVANT (a positive test item) and UNEXPECTED (absent from
    * a primitive baseline's top-k — canonically the popularity
    * recommender, which is exactly what "obvious" means in a
    * recommender). Exact integers: ser_e6 = n_serendip·10⁶ div k.
    * Users qualify by the [[apPerUser]] rule (≥ 1 relevant test item
    * and present in `recs`). One exchange keyed by (user, item) for
    * the two left joins + one user-keyed aggregation. */
  def serendipityAtK(recs: DataFrame, primitive: DataFrame, test: DataFrame,
                     k: Int, relevanceThreshold: Double): DataFrame = {
    val rel = relevant(test, relevanceThreshold)
    val qualified = rel.select("user_id").distinct()
    // "expected" = the baseline's top-k: cut here when the frame still
    // carries a rank column; a rank-less frame must already BE a top-k
    // list (the pre-cut contract) or the metric silently loosens
    val prim =
      if (primitive.columns.contains("rank")) primitive.filter(col("rank") <= k)
      else primitive
    recs.filter(col("rank") <= k)
      .join(qualified, Seq("user_id")) // inner: qualifying users only
      .join(prim.select(col("user_id"), col("item_id"), lit(1).as("in_prim")),
        Seq("user_id", "item_id"), "left")
      .join(rel.select(col("user_id"), col("item_id"), lit(1).as("hit")),
        Seq("user_id", "item_id"), "left")
      .groupBy("user_id")
      .agg(sum(when(col("in_prim").isNull && col("hit") === 1, 1L)
        .otherwise(0L)).as("n_serendip"))
      .select(col("user_id"), col("n_serendip"),
        expr(s"n_serendip * 1000000L div $k").as("ser_e6"))
  }

  /** MAP@k: mean of per-user AP over qualifying users (map.py:15-16). */
  def mapAtK(recs: DataFrame, test: DataFrame, k: Int, relevanceThreshold: Double): DataFrame =
    apPerUser(recs, test, k, relevanceThreshold).agg(avg("ap").as("map"))

  /** Mean nDCG@k over qualifying users (ndcg.py:13-19). */
  def ndcgAtK(recs: DataFrame, test: DataFrame, k: Int, relevanceThreshold: Double): DataFrame =
    ndcgPerUser(recs, test, k, relevanceThreshold).agg(avg("ndcg").as("ndcg"))

  /** MAP@k AND nDCG@k in ONE pass. Returns one row (map, ndcg).
    * Value-identical to [[mapAtK]]/[[ndcgAtK]] (spec-pinned): the AP hit
    * dedup (first occurrence by rank) and the un-deduped DCG graded
    * relevance both match their standalone formulations.
    *
    * When `recs` is a local table (a driver-regime fold's recommend)
    * whose top-k rows, and the relevant test rows, are each within
    * [[KGraph.MaxDriverEdges]] rows, and whose ids are of one type of
    * `Shim.KeyTypes` with the test frame's, the means are computed on the
    * driver ([[driverMeans]]): recs are read where they are, the test
    * rows are read in place when the test frame is local too and come
    * back in one bounded collect otherwise, and the result is a local
    * table. Other inputs take the Spark plan, where both means ride a
    * single join tree and one exchange over the recommendations; lazy
    * recs are never collected, so their ranking runs once. */
  def meansAtK(recs: DataFrame, test: DataFrame, k: Int, relevanceThreshold: Double): DataFrame =
    meansAtK(recs, test, k, relevanceThreshold, KGraph.MaxDriverEdges)

  /** [[meansAtK]] with the driver bound `maxDriverRows`. */
  private[graft] def meansAtK(recs: DataFrame, test: DataFrame, k: Int, relevanceThreshold: Double,
                              maxDriverRows: Long): DataFrame =
    driverMeans(recs, test, k, relevanceThreshold, maxDriverRows).getOrElse(
      perUserAtK(recs, test, k, relevanceThreshold)
        .agg(avg("ap").as("map"), avg("ndcg").as("ndcg")))

  /** [[perUserAtK]]'s semantics on driver rows, averaged; None when
    * `recs` is not a local table, the key types differ between `recs`
    * and `test` (the Spark join would cast them) or are not
    * `Shim.KeyTypes`, or an input is over `maxRows` rows. Ids group as
    * Spark groups them (`Shim.keyValue`). A rec row joins each relevant
    * row of its (user, item); an item's first rec row by rank keeps the
    * hit; cum_hits counts the hits at ranks up to the row's own (the
    * window's RANGE frame); DCG sums every joined row; IDCG takes the k
    * best relevant ratings. Users are averaged in a fixed order, so a
    * result does not depend on partitioning. */
  private def driverMeans(recs: DataFrame, test: DataFrame, k: Int, relevanceThreshold: Double,
                          maxRows: Long): Option[DataFrame] = {
    val keyTypes = Seq("user_id", "item_id").forall { c =>
      val t = recs.schema(c).dataType
      t == test.schema(c).dataType && Shim.KeyTypes(t)
    }
    val rankType = Seq(IntegerType, LongType).contains(recs.schema("rank").dataType)
    val Seq(u, i, r) = Seq("user_id", "item_id", "rank").map(recs.schema.fieldIndex)
    for {
      rows <- Shim.localRows(recs) if keyTypes && rankType
      top = rows.filter(row => !row.isNullAt(r) && row.getAs[Number](r).longValue <= k)
        .map(row => Row(Shim.keyValue(row.get(u)), Shim.keyValue(row.get(i)), row.get(r)))
      if top.size <= maxRows
      relRows <- KGraph.collectRows(relevant(test, relevanceThreshold)
        .select(col("user_id"), col("item_id"), col("rating").cast("double")), maxRows)
      rel = relRows.map(row => Row(Shim.keyValue(row.get(0)), Shim.keyValue(row.get(1)), row.get(2)))
    } yield {
      // null users join nothing; (user, ap, ndcg) per qualifying user
      val relByUser = rel.toSeq.filter(!_.isNullAt(0)).groupBy(_.get(0))
      val perUser = top.filter(!_.isNullAt(0)).groupBy(_.get(0)).toSeq.flatMap { case (user, rs) =>
        relByUser.get(user).map(rels => user.toString -> userAtK(rs, rels, k))
      }
      val (aps, ndcgs) = perUser.sortBy(_._1).map(_._2).unzip
      def mean(xs: Seq[Double]): Any = if (xs.isEmpty) null else xs.sum / xs.size
      recs.sparkSession.createDataFrame(java.util.List.of(Row(mean(aps), mean(ndcgs))),
        StructType(Seq(StructField("map", DoubleType), StructField("ndcg", DoubleType))))
    }
  }

  /** One user's (AP@k, nDCG@k) from its top-k (user, item, rank) rows
    * and its relevant (user, item, rating) rows, as [[perUserAtK]]
    * computes them. */
  private def userAtK(recs: Seq[Row], rels: Seq[Row], k: Int): (Double, Double) = {
    def log2(x: Double): Double = StrictMath.log(x) / StrictMath.log(2) // Spark's Log2
    val ratingsOf = rels.filter(!_.isNullAt(1)).groupBy(_.get(1)).map { case (i, rs) => i -> rs.map(_.getDouble(2)) }
    // (item, rank, hit, rel_rating), one row per joined relevant row
    val joined = recs.map(r => (r.get(1), r.getAs[Number](2).longValue))
      .sortBy { case (item, rank) => (rank, String.valueOf(item)) }
      .flatMap { case (item, rank) =>
        ratingsOf.get(item).fold(Seq((item, rank, 0, 0.0)))(_.map(rating => (item, rank, 1, rating)))
      }.toIndexedSeq
    val hitSeen = scala.collection.mutable.HashSet.empty[Any]
    val hits = joined.map { case (item, _, hit, _) => if (hit == 1 && hitSeen.add(item)) 1L else 0L }
    // cum_hits: the hits at ranks up to each row's own, peers included
    val ranks = joined.map(_._2)
    val cumHits = hits.scanLeft(0L)(_ + _).tail.toArray
    for (j <- ranks.indices.reverse.drop(1) if ranks(j) == ranks(j + 1)) cumHits(j) = cumHits(j + 1)
    var apSum = 0.0; var dcg = 0.0
    joined.indices.foreach { j =>
      apSum += (hits(j) * cumHits(j)).toDouble / ranks(j).toDouble
      dcg += joined(j)._4 / log2(ranks(j).toDouble + 1.0)
    }
    val idcg = rels.map(_.getDouble(2)).sortBy(-_).take(k).zipWithIndex
      .map { case (rating, p) => rating / log2((p + 1).toDouble + 1.0) }.sum
    (apSum / math.min(rels.size.toLong, k.toLong).toDouble, if (idcg > 0.0) dcg / idcg else 0.0)
  }

  /** Per-user AP@k AND nDCG@k in ONE pass → (user_id, ap, ndcg) — the
    * [[meansAtK]] body before its final mean. Value-identical to
    * [[apPerUser]] ⋈ [[ndcgPerUser]] (both restrict to users with ≥ 1
    * relevant test item that received recommendations) but consumes
    * `recs` ONCE — composed experiments (q142) feed an expensive
    * trained-model subtree here, and Spark does not reuse exchanges
    * across two independently-built metric trees. */
  def perUserAtK(recs: DataFrame, test: DataFrame, k: Int, relevanceThreshold: Double): DataFrame = {
    val rel = relevant(test, relevanceThreshold)
    val nrel = rel.groupBy("user_id").agg(count(lit(1)).as("nrel"))
    val iw = Window.partitionBy("user_id").orderBy(col("rating").desc, col("item_id"))
    val idcg = rel.withColumn("pos", row_number().over(iw))
      .filter(col("pos") <= k)
      .groupBy("user_id")
      .agg(sum(col("rating") / log2(col("pos").cast("double") + 1.0)).as("idcg"))
    val occ = Window.partitionBy("user_id", "item_id").orderBy("rank")
    val w = Window.partitionBy("user_id").orderBy("rank")
    recs.filter(col("rank") <= k)
      .join(nrel.join(idcg, Seq("user_id")), Seq("user_id")) // inner: qualifying users only
      .join(rel.select(col("user_id"), col("item_id"), lit(1).as("hit"),
        col("rating").as("rel_rating")), Seq("user_id", "item_id"), "left")
      .withColumn("hit", coalesce(col("hit"), lit(0)))
      .withColumn("hit", when(row_number().over(occ) === 1, col("hit")).otherwise(0))
      .withColumn("rel_rating", coalesce(col("rel_rating"), lit(0.0)))
      .withColumn("cum_hits", sum("hit").over(w))
      .groupBy("user_id", "nrel", "idcg")
      .agg(sum(col("hit") * col("cum_hits") / col("rank").cast("double")).as("ap_sum"),
        sum(col("rel_rating") / log2(col("rank").cast("double") + 1.0)).as("dcg"))
      .select(col("user_id"),
        (col("ap_sum") / least(col("nrel"), lit(k)).cast("double")).as("ap"),
        when(col("idcg") > 0.0, col("dcg") / col("idcg")).otherwise(0.0).as("ndcg"))
  }
}
