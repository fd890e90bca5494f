package graft.model

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.TopK

/** First-order Markov next-item model — the classic sequential
  * recommendation baseline (Rendle et al. 2010's FPMC reduces to it
  * without factorization; every session-based recommender paper
  * benchmarks against it): count consecutive item transitions in each
  * user's timeline, serve the top-k next items per item.
  * [[graft.stream.Journeys.sessionTransitions]] is the event-TYPE
  * version of the same matrix; this one is item-grained and feeds a
  * recommender.
  *
  * Scale shape: one user-keyed groupBy collects each user's (ts,
  * item) events (per-group state = that user's history, the
  * [[graft.stream.Funnel]] sorted-walk contract — pre-cap hyperactive
  * users upstream if unbounded); consecutive pairs come from the
  * NARROW zip of the sorted array against its 1-shifted self (the
  * q144 bigram pattern — no window, no per-user second shuffle);
  * then one map-side-combined (prev, nxt) count and the [[TopK]]
  * bounded-heap cut. Self-transitions (repeat interactions) are
  * dropped — a "next item" recommender never proposes the item
  * itself.
  *
  * @return (prev, nxt, cnt ≥ minCount, rank ≤ k) */
object MarkovNextItem {

  /** Serve the model: each user's LAST item (max ts, item_id tie)
    * looks up its transition list; already-seen items anti-join out;
    * re-rank the survivors. The transition table is items×k rows —
    * broadcastable in most deployments, a plain equi-join otherwise.
    * Users whose last item has no surviving transitions are absent
    * (fall back to popularity upstream).
    *
    * @return (user_id, item_id, cnt, rank ≤ k) */
  def recommend(ratings: DataFrame, minCount: Long, kTrans: Int, k: Int): DataFrame =
    recommendFrom(ratings, transitions(ratings, minCount, kTrans), k)

  /** [[recommend]] over a PREBUILT transition table — the shared-
    * materialization entry point (r15): q155/q157/q172 all need the
    * same `transitions(ratings, 2, 5)` and previously each rebuilt the
    * full sorted-timeline aggregate; the query registry memoizes one
    * (`graft.queries.Memos.markovT1`). */
  def recommendFrom(ratings: DataFrame, trans: DataFrame, k: Int): DataFrame = {
    val last = TopK.perGroup(
      ratings.select("user_id", "item_id", "ts"),
      Seq("user_id"), "ts", Seq("item_id"), 1)
      .select(col("user_id"), col("item_id").as("prev"))
    last.join(trans.select(col("prev"), col("nxt").as("item_id"), col("cnt")), Seq("prev"))
      .join(ratings.select("user_id", "item_id"), Seq("user_id", "item_id"), "left_anti")
      .transform(TopK.perGroup(_, Seq("user_id"), "cnt", Seq("item_id"), k))
      .select("user_id", "item_id", "cnt", "rank")
  }

  /** Order-2 transition table: (prev2, prev1) → next counts from
    * consecutive TRIPLES of each user's timeline — the classic
    * session-based higher-order baseline. The state space is pruned by
    * the same minSupport discipline as [[Baskets]] (`cnt >= minCount`
    * kills the quadratic-in-items context tail before the TopK cut);
    * triples come from a narrow indexed transform of the sorted event
    * array (no window, no second shuffle), self-successions
    * (nxt == prev1) dropped like the first-order table.
    *
    * @return (prev2, prev1, nxt, cnt ≥ minCount, rank ≤ k) */
  def transitions2(ratings: DataFrame, minCount: Long, k: Int): DataFrame = {
    require(minCount >= 1 && k >= 1, "markov2: positive minCount and k")
    ratings.select("user_id", "item_id", "ts")
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("ts"), col("item_id")))).as("evs"))
      .filter(size(col("evs")) > 2)
      .select(explode(expr(
        "transform(sequence(1, size(evs) - 2), i -> struct(" +
          "element_at(evs, i).item_id AS prev2, " +
          "element_at(evs, i + 1).item_id AS prev1, " +
          "element_at(evs, i + 2).item_id AS nxt))")).as("t"))
      .select(col("t.prev2").as("prev2"), col("t.prev1").as("prev1"), col("t.nxt").as("nxt"))
      .filter(col("nxt") =!= col("prev1"))
      .groupBy("prev2", "prev1", "nxt").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .transform(TopK.perGroup(_, Seq("prev2", "prev1"), "cnt", Seq("nxt"), k))
  }

  /** Serve order-2 with order-1 BACKOFF: each user's last two items
    * look up the order-2 table; a user whose order-2 context yields no
    * UNSEEN candidates (including users with fewer than 2 distinct-ts
    * events, contexts pruned by minSupport, and contexts whose every
    * survivor is already rated) falls back to the first-order table on
    * the last item alone. `ord` records which order served (2 or 1).
    *
    * Scale shape: both transition tables are items-bounded and
    * minSupport-pruned (equi-joins, broadcastable in most
    * deployments); the per-user context is a TopK bounded-heap k=2
    * cut, never a timeline window.
    *
    * @return (user_id, item_id, cnt, ord, rank ≤ k) */
  def recommendBackoff(ratings: DataFrame, minCount: Long, kTrans: Int, k: Int): DataFrame =
    recommendBackoffFrom(ratings, transitions2(ratings, minCount, kTrans),
      transitions(ratings, minCount, kTrans), k)

  /** [[recommendBackoff]] over PREBUILT order-2/order-1 tables (the
    * recommendFrom sharing discipline). */
  def recommendBackoffFrom(ratings: DataFrame, t2: DataFrame, t1: DataFrame,
                           k: Int): DataFrame = {
    val lastTwo = TopK.perGroup(
      ratings.select("user_id", "item_id", "ts"),
      Seq("user_id"), "ts", Seq("item_id"), 2)
    val prev1 = lastTwo.filter(col("rank") === 1)
      .select(col("user_id"), col("item_id").as("prev1"))
    val prev2 = lastTwo.filter(col("rank") === 2)
      .select(col("user_id"), col("item_id").as("prev2"))
    val seen = ratings.select("user_id", "item_id")
    val c2 = prev1.join(prev2, Seq("user_id"))
      .join(t2.select(col("prev2"), col("prev1"), col("nxt").as("item_id"), col("cnt")),
        Seq("prev2", "prev1"))
      .join(seen, Seq("user_id", "item_id"), "left_anti")
      .select(col("user_id"), col("item_id"), col("cnt"), lit(2).as("ord"))
    val c1 = prev1
      .join(t1.select(col("prev").as("prev1"), col("nxt").as("item_id"), col("cnt")),
        Seq("prev1"))
      .join(seen, Seq("user_id", "item_id"), "left_anti")
      .join(c2.select("user_id").distinct(), Seq("user_id"), "left_anti")
      .select(col("user_id"), col("item_id"), col("cnt"), lit(1).as("ord"))
    TopK.perGroup(c2.unionByName(c1), Seq("user_id"), "cnt", Seq("item_id"), k)
      .select("user_id", "item_id", "cnt", "ord", "rank")
  }

  def transitions(ratings: DataFrame, minCount: Long, k: Int): DataFrame = {
    require(minCount >= 1 && k >= 1, "markov: positive minCount and k")
    ratings.select("user_id", "item_id", "ts")
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("ts"), col("item_id")))).as("evs"))
      .filter(size(col("evs")) > 1)
      .select(explode(expr(
        "zip_with(slice(evs, 1, size(evs) - 1), slice(evs, 2, size(evs) - 1)," +
          " (a, b) -> struct(a.item_id AS prev, b.item_id AS nxt))")).as("p"))
      .select(col("p.prev").as("prev"), col("p.nxt").as("nxt"))
      .filter(col("prev") =!= col("nxt"))
      .groupBy("prev", "nxt").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .transform(TopK.perGroup(_, Seq("prev"), "cnt", Seq("nxt"), k))
  }
}
