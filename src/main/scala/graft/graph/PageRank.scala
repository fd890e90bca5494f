package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Fixed-iteration PageRank over an edge list, in EXACT scaled-integer
  * arithmetic so an independent SQL engine replays every rank
  * bit-for-bit (float PageRank — GraphX's included — diverges by ulps
  * across engines and iteration orders; integer `div` does not).
  *
  * Semantics match GraphX's unnormalized form: every node starts at
  * `scale` (1.0 in fixed-point), and per iteration
  *   rank' = (15*scale) div 100 + (85 * sum_in(rank div outdeg)) div 100
  * with damping 0.85. Dangling nodes keep contributing nothing (mass
  * leaks, as in GraphX); nodes with no in-edges settle at the teleport
  * term. Overflow headroom: the hottest node's incoming sum is bounded
  * by total mass N*scale, so N*scale*85 must stay < 2^63 — at the
  * default scale 1e9 that is ~1e8 nodes; drop `scale` for larger
  * graphs.
  *
  * Physical design:
  *   - Nodes are DICTIONARY-ENCODED to longs before iterating
  *     (`monotonically_increasing_id` over a persisted dictionary —
  *     the ids are internal and arbitrary, ranks depend only on graph
  *     STRUCTURE, so the output stays deterministic while every
  *     per-iteration join hashes longs instead of label strings; the
  *     string labels join back exactly once at the end). The persisted
  *     dictionary is the correctness anchor: it pins the arbitrary ids
  *     for the label join-back, so it stays cached until the result is
  *     consumed.
  *   - Out-degrees ride with the edges, hash-partitioned by src ONCE
  *     and persisted; each iteration touches that cache plus the
  *     skinny rank table.
  *   - Size-gated dispatch (the [[graft.util.TopK]] /
  *     [[graft.knn.CosineKnn]] discipline): at or below
  *     `broadcastMaxNodes` the rank/contribution/dictionary tables are
  *     broadcast — an iteration then adds ZERO exchanges of the edge
  *     side; above the gate the joins fall back to shuffle joins
  *     against the src-partitioned edge cache. The gate picks a
  *     physical plan, never semantics.
  *   - Ranks are re-persisted and the previous iteration unpersisted
  *     each round to keep lineage flat — the classic
  *     iterative-DataFrame discipline.
  *
  * Reference ground: node importance over the KG triple graph
  * (kg/graph.py builds the same edge set this is run on in q116);
  * PageRank itself is the standard recsys/KG baseline the reference's
  * popularity recommender approximates.
  */
object PageRank {

  /** Returns (node, rank_e) — one row per distinct endpoint, rank in
    * `scale` fixed-point after `iters` rounds. */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
          iters: Int, scale: Long = 1000000000L,
          broadcastMaxNodes: Long = 1000000L): DataFrame = {
    val g = encode(edges, srcCol, dstCol, broadcastMaxNodes)
    val out = core(g, iters, scale, None)
    g.release()
    out
  }

  /** PERSONALIZED PageRank: teleport mass lands only on the seed set
    * (`seedPred` over the node value), so ranks measure proximity TO
    * THE SEEDS through the graph — the classic KG-recommender scoring
    * baseline (walk-with-restart from a user's rated items). Same
    * exact integer arithmetic and physical plan as [[run]]; non-seed
    * nodes start at 0 and receive only damped in-flow. */
  def personalized(edges: DataFrame, srcCol: String, dstCol: String,
                   seedPred: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                   iters: Int, scale: Long = 1000000000L,
                   broadcastMaxNodes: Long = 1000000L): DataFrame = {
    val g = encode(edges, srcCol, dstCol, broadcastMaxNodes)
    val out = core(g, iters, scale, Some(seedPred))
    g.release()
    out
  }

  /** The dictionary + degree-annotated edge cache every rank variant
    * iterates over. Ranks depend only on graph STRUCTURE (the internal
    * ids cancel out of the integer arithmetic, and labels join back at
    * the end), so one encode can serve [[run]] AND [[personalized]]
    * over the same edge set — q116/q122 share one via the kgEncoded
    * memo instead of re-running the triple-assembly joins and the
    * dictionary build per query (guide §2.4: remove repeated subtrees).
    * Callers own the lifecycle: [[EncodedGraph.release]] when done. */
  final case class EncodedGraph(nid: DataFrame, nNodes: Long,
                                eo: DataFrame, small: Boolean) {
    def release(): Unit = eo.unpersist(blocking = false)
    /** Re-pin the eo cache after a session-wide clearCache ([[graft.util.Memo]]
      * re-pins on a hit); nid is a localCheckpoint, which clearCache cannot
      * drop. */
    def repin(): Unit =
      if (eo.storageLevel == StorageLevel.NONE) {
        eo.persist(StorageLevel.MEMORY_AND_DISK)
        eo.count()
      }
  }

  def encode(edges: DataFrame, srcCol: String, dstCol: String,
             broadcastMaxNodes: Long = 1000000L): EncodedGraph = {
    // the edge projection is read several times below — persist the
    // skinny form so an expensive upstream plan (q116's triple
    // assembly joins) is not re-derived. Eager fill: the node-distinct
    // union below scans e TWICE inside one action, and through a lazy
    // persist those scans race the fill and can each recompute the
    // upstream (the LabelPropagation r15 lesson).
    val e = edges.select(col(srcCol).as("s"), col(dstCol).as("t"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    e.count()
    val nodes = e.select(col("s").as("n")).union(e.select(col("t").as("n")))
      .distinct()
    val nid = nodes.withColumn("nid", monotonically_increasing_id())
      // eager localCheckpoint, not persist: a persisted-but-evicted (or
      // executor-loss-recomputed) dictionary would re-draw different
      // monotonically_increasing_id values and silently mis-wire the
      // final label join-back; a checkpoint either survives or fails loud
      .localCheckpoint(true)
    val nNodes = nid.count()
    val small = nNodes <= broadcastMaxNodes
    def gate(df: DataFrame) = if (small) broadcast(df) else df
    val en = e
      .join(gate(nid.select(col("n").as("s"), col("nid").as("sid"))), "s")
      .join(gate(nid.select(col("n").as("t"), col("nid").as("tid"))), "t")
      .select("sid", "tid")
    // the degree table is |V|-sized — under the gate it broadcasts, so
    // the edge list is scanned narrowly and shuffled exactly once while
    // building the iteration cache. Under the gate the cache is
    // partitioned by the AGGREGATION key tid: the per-round rank join
    // broadcasts, and HashPartitioning(tid) satisfies the contribution
    // groupBy(tid) — the iteration's ONLY exchange disappears (the
    // checkpointed rank table has no size statistics, so AQE cannot
    // find the broadcast itself). Above the gate, sid-partitioning
    // serves the shuffle join and only the skinny rank table moves.
    val eo = en.join(gate(en.groupBy("sid").agg(count(lit(1)).as("d"))), "sid")
      .repartition(col(if (small) "tid" else "sid"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    eo.count() // eager, so the wide edge projection releases right here
    e.unpersist(blocking = false)
    EncodedGraph(nid, nNodes, eo, small)
  }

  /** Iterate over a prebuilt [[EncodedGraph]]. */
  def core(g: EncodedGraph, iters: Int, scale: Long,
           seedPred: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column]): DataFrame = {
    require(iters >= 0, "pagerank: iters >= 0")
    val teleport = (15L * scale) / 100L
    def gate(df: DataFrame) = if (g.small) broadcast(df) else df
    // seed membership evaluated ONCE on the label and pinned by a
    // checkpoint (exactly the pre-share nid semantics), then carried
    // as a skinny flag next to the internal id; the unseeded variant
    // is a constant — no second checkpoint needed
    val nid = seedPred match {
      case Some(p) => g.nid
        .withColumn("seed", when(p(col("n")), 1L).otherwise(0L))
        .localCheckpoint(true)
      case None => g.nid.withColumn("seed", lit(1L))
    }
    var ranks = nid.select(col("nid"), (lit(scale) * col("seed")).as("r"))
    for (_ <- 0 until iters) {
      val contrib = g.eo.join(gate(ranks), g.eo("sid") === ranks("nid"))
        .select(col("tid"), expr("r div d").as("c"))
        .groupBy("tid").agg(sum(col("c")).as("cs"))
      // localCheckpoint (eager) BOTH materializes the round and
      // truncates lineage — without it the logical plan deepens every
      // round and Catalyst re-analysis makes iteration cost grow
      // superlinearly (measured: 3.1 -> 4.2 s/iter by round 4 at sf0.1
      // with persist-only; flat after truncation)
      ranks = nid.select(col("nid"), col("seed"))
        .join(gate(contrib), nid("nid") === contrib("tid"), "left")
        .select(col("nid"),
          (lit(teleport) * col("seed") +
            expr("85 * coalesce(cs, 0L) div 100")).as("r"))
        .localCheckpoint(true)
    }
    // single label join-back; nid stays checkpointed to pin the
    // internal ids until the caller consumes the result
    ranks.join(gate(nid), ranks("nid") === nid("nid"))
      .select(col("n").as("node"), col("r").as("rank_e"))
  }
}
