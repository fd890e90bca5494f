package graft.split

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim

/** The four rating-edge split strategies of the reference's
  * `framework/dataloader/edge_splitter/edge_splitter.py`, re-expressed
  * as deterministic fold/test *assignment columns* over an immutable
  * rating DataFrame (the reference deep-copies and mutates an nx.Graph
  * per fold — edge_splitter.py:17,75-83; here train is simply the
  * complement filter, so folds cost nothing to "restore").
  *
  * Determinism: NumPy's shuffle order cannot be reproduced on the JVM,
  * so "random" ordering is defined as seeded xxhash64(user, item, seed)
  * — a pure function of the edge, stable across retries, partitionings
  * and cluster sizes (SURVEY §4.5). Oracle tests may instead pass an
  * explicit deterministic `orderKey` so DuckDB can replay the split.
  *
  * The user-facing splits ([[randomByRatio]], [[timestampByRatio]],
  * [[fixedTimestamp]], [[kFoldRandom]]) fold their plan on the driver
  * when the input is a local table (`Shim.localTable`), into a local
  * table of the same rows and flags, sorted as the split's last window
  * sorts them — no job.
  */
object EdgeSplits {

  /** Seeded pseudo-random ordering key for an edge. */
  def edgeHash(seed: Long): Column =
    xxhash64(col("user_id"), col("item_id"), lit(seed))

  /** Oracle-portable seeded ordering key: md5 over an explicit string,
    * reproducible verbatim in DuckDB SQL (xxhash64 is JVM-only). */
  def portableHash(seed: Long): Column =
    md5(concat_ws("|", col("user_id"), col("item_id"), lit(seed)))

  /** Whether a split `level` ranks within each user (user) or over all
    * rows (global). */
  private def partitionedByUser(level: String): Boolean = level match {
    case "user"   => true
    case "global" => false
    case other    => throw new IllegalArgumentException(s"level must be user|global, got $other")
  }

  /** The one check of a split's arguments (edge_splitter.py:36-37,
    * 63-64): `method` names one of the four strategies, a ratio split's
    * `p` is in (0,1), a k-fold's `k` is at least 2, and the `level` of
    * either is user or global. Each public split calls it on entry; the
    * experiment calls it on its config before any data loads. */
  def checkSplit(method: String, p: Double = 0.2, k: Int = 2, level: String = "user"): Unit =
    method match {
      case "random_by_ratio" | "timestamp_by_ratio" =>
        require(p > 0 && p < 1, s"p must be in (0,1), got $p")
        partitionedByUser(level)
      case "k_fold" =>
        require(k >= 2, s"k must be >= 2, got $k")
        partitionedByUser(level)
      case "fixed_timestamp" =>
      case other => throw new IllegalArgumentException(s"Invalid split method $other")
    }

  private def rankWindows(level: String, orderKey: Seq[Column]) = {
    val part =
      if (partitionedByUser(level)) Window.partitionBy("user_id")
      else Window.partitionBy() // exactness over scale; see scaladoc below
    (part.orderBy(orderKey: _*), part)
  }

  /** Shared ratio machinery for W1-W3: order edges (globally or per
    * user), mark the last ceil(n*p) as test (edge_splitter.py:85-119).
    *
    * Note on `level = "global"`: here the exact global ceil(N*p) cutoff
    * runs through a single-partition window — fine at verification
    * scale, and the naive form the oracle replays. The 100 TB paths are
    * [[byRatioGlobalScalable]] / [[kFoldGlobalScalable]] (the SAME
    * exact flag with the rank decomposed over monotone hash buckets —
    * spec-pinned bit-equal) or [[byRatioApprox]] when an approximate
    * cut position is acceptable.
    */
  def byRatio(ratings: DataFrame, p: Double, level: String, orderKey: Seq[Column]): DataFrame = {
    checkSplit("random_by_ratio", p = p, level = level) // any order: both ratio methods check alike
    val (rankW, countW) = rankWindows(level, orderKey)
    ratings
      .withColumn("__rn", row_number().over(rankW))
      .withColumn("__n", count(lit(1)).over(countW))
      .withColumn("is_test", col("__rn") > col("__n") - ceil(col("__n") * p))
      .drop("__rn", "__n")
  }

  /** W1/W2 `random_by_ratio` with seeded-hash order (edge_splitter.py:85-101).
    *
    * `level = "global"` routes through [[byRatioGlobalScalable]] (bucketed
    * by the top bits of the hash key, spec-pinned bit-equal to the
    * monolithic window) so no user-facing path sorts the corpus in one
    * task. The naive window form remains reachable via [[byRatio]] for
    * oracle replays. */
  def randomByRatio(ratings: DataFrame, p: Double, level: String, seed: Long): DataFrame = {
    checkSplit("random_by_ratio", p = p, level = level)
    val key = Seq(edgeHash(seed), col("item_id"))
    Shim.localTable(
      if (level == "global") byRatioGlobalScalable(ratings, p, key, longBucket(edgeHash(seed)))
      else byRatio(ratings, p, level, key))
  }

  /** W3 `timestamp_by_ratio`: most recent ceil(n*p) edges are test
    * (edge_splitter.py:103-119). Ties broken by item then user id so the
    * assignment is a pure function of the edge.
    *
    * `level = "global"` decomposes the global rank over uniform
    * `width_bucket` ranges of ts (min/max via one skinny aggregate —
    * an eager action at plan-build time, read on the driver over a local
    * table). Uniform time buckets can be
    * skewed if events concentrate; worst case one bucket degrades to
    * the naive per-task sort, never worse than the monolithic window. */
  def timestampByRatio(ratings: DataFrame, p: Double, level: String): DataFrame = {
    checkSplit("timestamp_by_ratio", p = p, level = level)
    val key = Seq(col("ts"), col("item_id"), col("user_id"))
    Shim.localTable(
      if (level == "global") {
        val mm = Shim.first(ratings.agg(min("ts"), max("ts")))
        if (mm.isNullAt(0) || mm.getLong(0) == mm.getLong(1))
          byRatio(ratings, p, level, key) // empty or single-instant input: degenerate anyway
        else
          byRatioGlobalScalable(ratings, p, key,
            width_bucket(col("ts"), lit(mm.getLong(0)), lit(mm.getLong(1)), lit(1022)))
      } else byRatio(ratings, p, level, key))
  }

  /** Scale-path variant of the global ratio split: threshold the ordering
    * column at its (1-p) quantile instead of a total order. Approximate
    * in the cut position (relativeError), exact in monotonicity. */
  def byRatioApprox(ratings: DataFrame, p: Double, orderCol: String,
                    relativeError: Double = 0.001): DataFrame = {
    val thr = ratings.stat.approxQuantile(orderCol, Array(1 - p), relativeError).head
    ratings.withColumn("is_test", col(orderCol) > lit(thr))
  }

  /** 2^bits-bucket monotone coarsening of a signed-long ordering column
    * (arithmetic right shift preserves order) — the bucket expression
    * for [[byRatioGlobalScalable]] over [[edgeHash]] keys. */
  def longBucket(c: Column, bits: Int = 12): Column = shiftright(c, 64 - bits)

  /** 256-bucket monotone coarsening of an md5-hex ordering column (a
    * 2-char prefix of a fixed-width lowercase-hex string is monotone in
    * the string order) — the bucket for [[portableHash]] keys. */
  def hexBucket(c: Column): Column = substring(c, 1, 2)

  /** EXACT global ratio split WITHOUT the single-partition window: the
    * same `rn > N - ceil(N*p)` flag as `byRatio(level = "global")`,
    * with the global row_number decomposed SequencePack-style.
    * `bucket` must be a MONOTONE coarsening of the first order column
    * (e.g. [[longBucket]] of [[edgeHash]], [[hexBucket]] of
    * [[portableHash]]) of bounded cardinality (256-4096): per-bucket
    * counts collapse to one skinny map-side-combined aggregate, the
    * exclusive cumsum + grand total run on that bounded table alone,
    * and every corpus row gets its rank from a window PARTITIONED by
    * bucket — at most one bucket's rows per task sort, never the
    * corpus. Bit-identical to the monolithic window (spec-pinned),
    * deterministic: the flag stays a pure function of the edge. */
  def byRatioGlobalScalable(ratings: DataFrame, p: Double,
                            orderKey: Seq[Column], bucket: Column): DataFrame = {
    checkSplit("random_by_ratio", p = p, level = "global")
    withGlobalRank(ratings, orderKey, bucket)
      .withColumn("is_test", col("__rn") > col("__N") - ceil(col("__N") * p))
      .drop("__rn", "__N")
  }

  /** EXACT global k-fold without the single-partition window: ntile(k)
    * re-expressed through the decomposed global rank of
    * [[byRatioGlobalScalable]]. ntile semantics (the sklearn parity
    * pin): with q = N div k and r = N mod k, folds 1..r hold q+1 rows,
    * folds r+1..k hold q — the first branch covers every row when
    * q = 0, so k > N degrades exactly like ntile (one row per fold). */
  def kFoldGlobalScalable(ratings: DataFrame, k: Int,
                          orderKey: Seq[Column], bucket: Column): DataFrame = {
    checkSplit("k_fold", k = k, level = "global")
    withGlobalRank(ratings, orderKey, bucket)
      .withColumn("__q", expr(s"__N div $k"))
      .withColumn("__r", col("__N") % k)
      // SQL `div` keeps the arithmetic in exact long integer land
      .withColumn("fold", expr(
        """cast(case when __rn <= __r * (__q + 1)
          |       then (__rn - 1) div (__q + 1) + 1
          |       else __r + (__rn - __r * (__q + 1) - 1) div __q + 1
          |     end as int)""".stripMargin))
      .drop("__rn", "__N", "__q", "__r")
  }

  /** Shared rank decomposition — the public primitive is
    * [[graft.util.GlobalRank.withGlobalRank]]; this shim keeps the
    * splits' historical `__rn`/`__N` column names (value-identical). */
  private def withGlobalRank(ratings: DataFrame, orderKey: Seq[Column],
                             bucket: Column): DataFrame =
    graft.util.GlobalRank.withGlobalRank(ratings, orderKey, bucket,
      rankCol = "__rn", totalCol = "__N")

  /** W4 `fixed_timestamp`: test = edges with ts strictly greater than t
    * (edge_splitter.py:52-60). No shuffle at all — a pushed-down filter. */
  def fixedTimestamp(ratings: DataFrame, t: Long): DataFrame =
    Shim.localTable(ratings.withColumn("is_test", col("ts") > t))

  /** Purged (embargoed) temporal split — the time-series-ML leakage
    * guard (de Prado 2018 §7): rows inside `(t, t + embargoMs]` are
    * DROPPED, so a feature computed over a trailing window of train
    * rows can never overlap a test label's lookback. `split` ∈
    * {train, test}; one narrow filter + tag, no shuffle. */
  def fixedTimestampPurged(ratings: DataFrame, t: Long, embargoMs: Long): DataFrame = {
    require(embargoMs >= 0, s"purged split: embargoMs >= 0, got $embargoMs")
    ratings.filter(col("ts") <= t || col("ts") > t + embargoMs)
      .withColumn("split", when(col("ts") <= t, "train").otherwise("test"))
  }

  /** W5/W6 `k_fold`: contiguous blocks of the (shuffled) order become
    * folds (edge_splitter.py:121-151). sklearn.KFold hands the first
    * N mod k folds one extra element — exactly ntile(k) semantics.
    * Returns a `fold` column in 1..k; fold i test = (fold === i).
    */
  def kFold(ratings: DataFrame, k: Int, level: String, orderKey: Seq[Column]): DataFrame = {
    checkSplit("k_fold", k = k, level = level)
    val (rankW, _) = rankWindows(level, orderKey)
    ratings.withColumn("fold", ntile(k).over(rankW))
  }

  /** Seeded-hash-ordered k-fold (the default "random" flavor).
    * `level = "global"` routes through [[kFoldGlobalScalable]]
    * (spec-pinned ntile-equal) — see [[randomByRatio]]. */
  def kFoldRandom(ratings: DataFrame, k: Int, level: String, seed: Long): DataFrame = {
    checkSplit("k_fold", k = k, level = level)
    val key = Seq(edgeHash(seed), col("item_id"))
    Shim.localTable(
      if (level == "global") kFoldGlobalScalable(ratings, k, key, longBucket(edgeHash(seed)))
      else kFold(ratings, k, level, key))
  }
}
