package graft.walk

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Random-walk kernels (SURVEY §2.8 M1/M2).
  *
  * The reference calls the `graph-walker` library (or its vendored
  * fallback `framework/recommender/utils/walker.py:12-55`): `n_walks`
  * truncated uniform walks of length `walkLen` from EVERY node; a walk
  * stops early at a node with no neighbors (walker.py:37-39). The
  * node2vec variant (walker.py:103-185) biases step probabilities by
  * return parameter p and in-out parameter q.
  *
  * One step function per walk kind ([[uniformStep]], [[biasedStep]])
  * runs in both regimes: [[driverWalks]] over driver arrays, and
  * [[randomWalks]] / [[biasedWalks]] in tasks over a broadcast
  * adjacency. Randomness is a pure function xxhash64(start, walkIdx,
  * step, seed) — deterministic under retries and any partitioning
  * (SURVEY §4.5) — so both regimes realize the same walks.
  *
  * The biased step is the membership-test (class-sampling) kernel
  * SURVEY M2 prescribes: O(degree) set algebra per extension, fine for
  * the graph sizes the reference targets.
  */
object RandomWalks {

  /** Undirected adjacency: (node, nbrs sorted asc) from an edge list
    * (src, dst). Sorting makes neighbor indexing deterministic. */
  def adjacency(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      // collect_set dedups inside the aggregation (with map-side partial
      // combine) — a separate distinct() would pay a second shuffle on
      // the same key
      .groupBy(col("src").as("node"))
      .agg(sort_array(collect_set("dst")).as("nbrs"))

  // ---- step-function kernel ------------------------------------------

  /** xxhash64(start, walk_idx, step, salt) as Spark SQL computes it for
    * (long, long, int, long) children with initial seed 42 — the chain
    * q42/q45's DuckDB oracles replay ([[graft.oracle.XxhWalkSql]]). */
  @inline private def stepHash(start: Long, walkIdx: Long, step: Int, salt: Long): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    var h = 42L
    h = XXH64.hashLong(start, h)
    h = XXH64.hashLong(walkIdx, h)
    h = XXH64.hashInt(step, h)
    XXH64.hashLong(salt, h)
  }
  @inline private def pmodL(a: Long, b: Long): Long = { val m = a % b; if (m < 0) m + b else m }

  private def collectAdj(adj: DataFrame): Map[Long, Array[Long]] = {
    import adj.sparkSession.implicits._
    // typed decode: primitive neighbour arrays, no per-element boxing
    adj.select(col("node").cast("long"), col("nbrs").cast("array<bigint>"))
      .as[(Long, Array[Long])].collect().toMap
  }

  private val walkSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("start", org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("walk_idx", org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("path",
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, containsNull = false))))

  /** A node's neighbours, sorted ascending; empty when it has none. */
  private[graft] type Neighbours = Long => Array[Long]

  /** One walk step: `(nbrs, start, walkIdx, step, cur, prev)` to the
    * next node, or None when the walk stops (walker.py:37-39). `prev` is
    * -1 before the first step. */
  private[graft] type StepFn = (Neighbours, Long, Long, Int, Long, Long) => Option[Long]

  /** Walk `walkIdx` from `start`: the start node, then up to
    * `walkLen - 1` steps of `stepFn`. */
  private def walk(nbrs: Neighbours, start: Long, walkIdx: Long, walkLen: Int,
                   stepFn: StepFn): Array[Long] = {
    val path = scala.collection.mutable.ArrayBuilder.make[Long]
    path += start
    var cur = start
    var prev = -1L // sentinel: no previous node
    var step = 1
    var alive = true
    while (alive && step < walkLen) {
      stepFn(nbrs, start, walkIdx, step, cur, prev) match {
        case Some(nxt) => path += nxt; prev = cur; cur = nxt
        case None      => alive = false
      }
      step += 1
    }
    path.result()
  }

  /** [[adjacency]] of int edges over nodes `0 until n`, on driver
    * arrays: per node, its distinct neighbours ascending. */
  private[graft] def driverAdjacency(n: Int, src: Array[Int], dst: Array[Int]): Array[Array[Long]] = {
    val nbrs = Array.fill(n)(new java.util.TreeSet[java.lang.Long]())
    src.indices.foreach { e => nbrs(src(e)).add(dst(e).toLong); nbrs(dst(e)).add(src(e).toLong) }
    nbrs.map(set => set.stream().mapToLong(_.longValue).toArray)
  }

  /** `nWalks` walks from every node of `adj`, on the driver, in
    * (start, walk_idx) order: the rows [[randomWalks]] / [[biasedWalks]]
    * return for the same step function, sorted by that key. */
  private[graft] def driverWalks(adj: Array[Array[Long]], nWalks: Int, walkLen: Int,
                                 stepFn: StepFn): Array[Array[Long]] = {
    val nbrs: Neighbours = node => adj(node.toInt)
    val paths = new Array[Array[Long]](adj.length * nWalks)
    java.util.stream.IntStream.range(0, paths.length).parallel().forEach { s =>
      paths(s) = walk(nbrs, (s / nWalks).toLong, (s % nWalks).toLong, walkLen, stepFn)
    }
    paths
  }

  /** One mapPartitions pass computes every step of every walk against a
    * broadcast adjacency — no per-step joins, no intermediate state
    * DataFrames. */
  private def localWalks(spark: SparkSession, adj: DataFrame, nodes: DataFrame, nWalks: Int,
                         walkLen: Int, stepFn: StepFn): DataFrame = {
    val bc = spark.sparkContext.broadcast(collectAdj(adj))
    val starts = nodes.select(col("node").cast("long"))
      .repartition(spark.sparkContext.defaultParallelism)
    val rows = starts.rdd.mapPartitions { it =>
      val adjMap = bc.value
      val nbrs: Neighbours = n => adjMap.getOrElse(n, Array.emptyLongArray)
      it.flatMap { r =>
        val start = r.getLong(0)
        (0L until nWalks.toLong).iterator.map { w =>
          org.apache.spark.sql.Row(start, w, walk(nbrs, start, w, walkLen, stepFn).toSeq)
        }
      }
    }
    spark.createDataFrame(rows, walkSchema)
  }

  /** The uniform step of [[randomWalks]]: a hash-drawn neighbour. */
  private[graft] def uniformStep(seed: Long): StepFn = { (nbrsOf, start, w, step, cur, _) =>
    val nbrs = nbrsOf(cur)
    if (nbrs.isEmpty) None
    else Some(nbrs(pmodL(stepHash(start, w, step, seed), nbrs.length.toLong).toInt))
  }

  /** The second-order (node2vec) step of [[biasedWalks]]: weight 1/p
    * back to the previous node, 1 to a neighbor of the previous node,
    * 1/q otherwise (walker.py:148-155).
    *
    * Sampling trick: the weight vector only ever holds three values, so
    * instead of an O(degree²) prefix sum over all neighbors we sample
    * the CLASS (back / common / far) by its total mass, then pick
    * uniformly inside the class — O(degree) set algebra per step,
    * distribution-identical to the reference's piecewise weights.
    * p == q == 1 collapses to [[uniformStep]] (every class weight is 1). */
  private[graft] def biasedStep(p: Double, q: Double, seed: Long): StepFn =
    if (p == 1.0 && q == 1.0) uniformStep(seed)
    else { (nbrsOf, start, w, step, cur, prev) =>
      val nbrs = nbrsOf(cur)
      if (nbrs.isEmpty) None
      else if (step == 1) {
        // first step: no previous node — uniform over all neighbors
        val idx = pmodL(stepHash(start, w, step, seed + 1), 1000000007L)
        Some(nbrs((idx % math.max(nbrs.length, 1)).toInt))
      } else {
        val prevSet = nbrsOf(prev).toSet
        // class members keep nbrs order: the idx draw indexes into them
        val common = nbrs.filter(x => x != prev && prevSet.contains(x))
        val commonSet = common.toSet
        val far = nbrs.filter(x => x != prev && !commonSet.contains(x))
        val wBack = if (nbrs.contains(prev)) 1.0 / p else 0.0
        val wCommon = common.length.toDouble
        val wFar = far.length.toDouble * (1.0 / q)
        val r = pmodL(stepHash(start, w, step, seed), 1000000007L).toDouble / 1000000007.0
        val draw = r * (wBack + wCommon + wFar)
        val idx = pmodL(stepHash(start, w, step, seed + 1), 1000000007L)
        if (draw < wBack) Some(prev)
        else if (draw < wBack + wCommon)
          Some(common((idx % math.max(common.length, 1)).toInt))
        else if (far.nonEmpty) Some(far((idx % far.length).toInt))
        else None // the far class is drawn but empty: the walk stops
      }
    }

  /** Uniform walks. nodes: (node) — every start node (walks from
    * isolated nodes are the single-node path, matching walker.py:30-39).
    * Returns (start, walk_idx, path: array<long>), computed in tasks
    * over the broadcast adjacency with [[uniformStep]]. */
  def randomWalks(spark: SparkSession, adj: DataFrame, nodes: DataFrame,
                  nWalks: Int, walkLen: Int, seed: Long): DataFrame =
    localWalks(spark, adj, nodes, nWalks, walkLen, uniformStep(seed))

  /** Second-order (node2vec) walks: [[randomWalks]] with
    * [[biasedStep]]. */
  def biasedWalks(spark: SparkSession, adj: DataFrame, nodes: DataFrame,
                  nWalks: Int, walkLen: Int, p: Double, q: Double, seed: Long): DataFrame =
    localWalks(spark, adj, nodes, nWalks, walkLen, biasedStep(p, q, seed))
}
