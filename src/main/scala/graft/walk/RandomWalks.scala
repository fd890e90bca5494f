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
  * The biased class-sampling step costs O(degree) set algebra per
  * extension; fine for the graph sizes the reference targets. The
  * extreme-scale path is [[biasedWalksAlias]]: per-directed-edge
  * Walker alias tables (the classic node2vec preprocessing) make every
  * step O(1) — two hash draws and two array reads — at the cost of one
  * O(Σ deg(cur)) distributed precompute, and the per-step join keys on
  * (prev, cur) WITHOUT broadcasting, so neither the tables nor the
  * adjacency ever need to fit on one executor.
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

  private def hash01(cols: org.apache.spark.sql.Column*): org.apache.spark.sql.Column =
    (pmod(xxhash64(cols: _*), lit(1000000007L)).cast("double") / 1000000007.0)

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

  // ---- alias-table kernel (extreme-scale biased walks) ----------------

  /** Walker alias construction over a weight vector: O(d) build, O(1)
    * draw. Returns (prob, alias): draw slot j uniformly, take j with
    * probability prob(j), else alias(j). Standard Vose/Walker method
    * (public construction; same scheme as [[graft.walk.SkipGram]]'s
    * negative sampler). */
  private[graft] def buildAlias(w: Array[Double]): (Array[Double], Array[Int]) = {
    val n = w.length
    val sum = w.sum
    // p=0 or q=0 would give 1/p = Infinity → all-NaN scaled weights →
    // a silently UNIFORM table (every slot lands on the `large` stack),
    // the opposite of the intended return-dominated distribution. The
    // class-sampling step would diverge too (Inf draw mass); fail fast instead.
    require(w.forall(v => java.lang.Double.isFinite(v) && v >= 0) &&
      java.lang.Double.isFinite(sum) && sum > 0,
      s"alias weights must be finite, non-negative, with positive mass (p/q must be > 0); got ${w.mkString(",")}")
    val prob = new Array[Double](n)
    val alias = new Array[Int](n)
    val scaled = w.map(_ * n / sum)
    val small = scala.collection.mutable.Stack[Int]()
    val large = scala.collection.mutable.Stack[Int]()
    // deterministic fill order (ascending index) keeps the tables — and
    // therefore every downstream draw — reproducible across runs
    var i = 0
    while (i < n) { if (scaled(i) < 1.0) small.push(i) else large.push(i); i += 1 }
    while (small.nonEmpty && large.nonEmpty) {
      val s = small.pop(); val l = large.pop()
      prob(s) = scaled(s); alias(s) = l
      scaled(l) = scaled(l) - (1.0 - scaled(s))
      if (scaled(l) < 1.0) small.push(l) else large.push(l)
    }
    while (large.nonEmpty) { val l = large.pop(); prob(l) = 1.0; alias(l) = l }
    while (small.nonEmpty) { val s = small.pop(); prob(s) = 1.0; alias(s) = s }
    (prob, alias)
  }

  /** Per-directed-edge alias tables for the node2vec transition
    * π(next | prev, cur): for every edge (prev → cur), a Walker table
    * over cur's neighbor list under the piecewise weights 1/p back,
    * 1 to a common neighbor, 1/q otherwise (walker.py:148-155). Output
    * (prev, cur, nbrs, prob, alias) stays a DataFrame — O(Σ deg(cur))
    * rows×entries total, shuffled-joined per step, never collected or
    * broadcast: this is what makes the kernel viable when the adjacency
    * itself exceeds executor memory. */
  private[graft] def edgeAliasTables(adj: DataFrame, p: Double, q: Double): DataFrame = {
    val edges = adj.select(col("node").as("prev"), explode(col("nbrs")).as("cur"))
    val curAdj = adj.select(col("node").as("cur"), col("nbrs"))
    val prevAdj = adj.select(col("node").as("prev"), col("nbrs").as("prev_nbrs"))
    val weighted = edges
      .join(curAdj, Seq("cur"))
      .join(prevAdj, Seq("prev"))
      .withColumn("w", expr(
        s"transform(nbrs, x -> CASE WHEN x = prev THEN ${1.0 / p}D " +
          s"WHEN array_contains(prev_nbrs, x) THEN 1.0D ELSE ${1.0 / q}D END)"))
      .select("prev", "cur", "nbrs", "w")
    val buildUdf = udf { w: Seq[Double] =>
      val (prob, alias) = buildAlias(w.toArray)
      (prob.toSeq, alias.toSeq)
    }
    weighted
      .withColumn("pa", buildUdf(col("w")))
      .select(col("prev"), col("cur"), col("nbrs"),
        col("pa._1").as("prob"), col("pa._2").as("alias"))
  }

  /** Second-order walks via precomputed per-edge alias tables — the
    * extreme-scale biased kernel. Each step is O(1): slot = hash mod
    * degree, coin = hash01, next = if coin < prob(slot) nbrs(slot) else
    * nbrs(alias(slot)). Distribution-identical to [[biasedStep]]'s class
    * sampling (same piecewise weights), but a DIFFERENT seeded draw
    * sequence — walks are deterministic for a fixed seed yet not
    * bit-equal to [[biasedWalks]]' output, so the default keeps the
    * class-sampling step (the q42 golden pins it) and callers opt in
    * where the per-step set algebra or the broadcast adjacency is the
    * bottleneck. */
  def biasedWalksAlias(spark: SparkSession, adj: DataFrame, nodes: DataFrame,
                       nWalks: Int, walkLen: Int, p: Double, q: Double,
                       seed: Long): DataFrame = {
    val aliasDf = edgeAliasTables(adj, p, q)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var state = nodes.select(col("node").as("start"))
      .repartition(spark.sparkContext.defaultParallelism)
      .crossJoin(spark.range(nWalks).select(col("id").as("walk_idx")))
      .withColumn("path", array(col("start")))
      .withColumn("cur", col("start"))
      .withColumn("prev", lit(null).cast("long"))
    for (step <- 1 until walkLen) {
      val r = hash01(col("start"), col("walk_idx"), lit(step), lit(seed))
      val idx = pmod(xxhash64(col("start"), col("walk_idx"), lit(step), lit(seed + 1)), lit(1000000007L))
      val stepped =
        if (step == 1)
          // no previous node yet: uniform over cur's neighbors (the same
          // first-step rule as [[biasedStep]])
          state.join(adj, state("cur") === adj("node"), "left")
            .withColumn("nxt",
              when(col("nbrs").isNotNull && size(col("nbrs")) > 0,
                element_at(col("nbrs"),
                  (idx % greatest(size(col("nbrs")), lit(1)).cast("long") + 1).cast("int"))))
        else {
          // shuffle join on the walk edge — deliberately NOT broadcast
          val at = aliasDf.select(col("prev").as("a_prev"), col("cur").as("a_cur"),
            col("nbrs"), col("prob"), col("alias"))
          state.join(at,
              state("prev") === at("a_prev") && state("cur") === at("a_cur"), "left")
            .withColumn("slot", (idx % greatest(size(col("nbrs")), lit(1)).cast("long") + 1).cast("int"))
            .withColumn("nxt",
              when(col("nbrs").isNotNull && size(col("nbrs")) > 0,
                when(r < element_at(col("prob"), col("slot")),
                  element_at(col("nbrs"), col("slot")))
                  .otherwise(element_at(col("nbrs"),
                    element_at(col("alias"), col("slot")) + 1))))
        }
      state = stepped.select(col("start"), col("walk_idx"),
        when(col("nxt").isNotNull, concat(col("path"), array(col("nxt"))))
          .otherwise(col("path")).as("path"),
        col("nxt").as("cur"),
        when(col("nxt").isNotNull, col("cur")).otherwise(lit(null).cast("long")).as("prev"))
      if (step % 4 == 0) state = state.localCheckpoint(eager = false)
    }
    // materialize before releasing the alias tables — the walk is done
    // with them, and a kernel that leaks a persisted E×deg-sized table
    // per invocation would accumulate storage across folds
    val out = state.select("start", "walk_idx", "path").localCheckpoint(eager = true)
    aliasDf.unpersist(blocking = false)
    out
  }
}
