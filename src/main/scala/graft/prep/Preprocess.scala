package graft.prep

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.storage.StorageLevel

/** Graph preprocessing operators mirroring the reference's
  * `framework/dataloader/preprocess/methods.py`.
  */
object Preprocess {

  /** Binarize ratings: `rating >= threshold -> 1.0 else 0.0`
    * (methods.py:17-26). Pure column expression — codegen'd, no shuffle.
    * A local input gets its rows back as a local table, the expression
    * evaluated on the driver. */
  def binarize(ratings: DataFrame, threshold: Double): DataFrame =
    Shim.localTable(ratings.withColumn(
      "rating",
      when(col("rating") >= threshold, 1.0).otherwise(0.0)))

  /** Reference k-core (methods.py:28-47): for up to `iterations` rounds,
    * compute per-target degree on a SNAPSHOT of the current edge set,
    * drop every target node with degree < k, stop early when a round
    * removes nothing. This is deliberately NOT textbook k-core
    * decomposition: removals within one round do not cascade until the
    * next round's snapshot (methods.py:35-37).
    *
    * target = "user" | "item". Each round is ONE aggregation job: the
    * kill set is persisted and its count() serves both the convergence
    * check and (via the cache) the anti-join input — no second pass over
    * the edge lineage. No broadcast hint on the join: on early rounds of
    * a large run most nodes fail the degree test, so the "tiny" kill set
    * can approach the full node dimension; AQE picks broadcast vs
    * shuffle from the actual materialized size.
    *
    * Cache contract (caller-owned): the result comes back LAZY — no
    * forced materialization pass (r3's unconditional persist+count cost
    * chained callers a full extra pass per call). The per-round kill
    * caches stay live inside the returned lineage and are tracked in the
    * caller's [[KCoreCaches]] scope; consume (or persist+materialize)
    * the result, then `caches.release()`. Releasing before consumption
    * is safe — the kill sets just recompute from lineage. Each call site
    * constructs its own scope, so a leak is visible where it happens and
    * concurrent consumers can't evict each other's caches (the
    * engine-global registry this replaces had both flaws).
    *
    * The FINAL round's edge set is deliberately NEVER persisted here:
    * the caller's own `result.persist()` would canonicalize to the same
    * analyzed plan, so Spark's CacheManager would treat it as a no-op
    * duplicate — and the subsequent `caches.release()` would then evict
    * the one shared entry, leaving the caller's "persisted" result
    * uncached. Downstream actions would replay the whole loop with the
    * kill caches also gone, recomputing each kill-agg from lineage —
    * near-exponential in pass count (q07's three chained passes measured
    * 161-321 process-CPU-s in r7 driver draws from exactly this, vs ~40
    * with the caller-owned cache intact). Intermediate rounds persist
    * on demand: a round's survivors are cached only when the NEXT round
    * is about to re-scan them, so intermediate sets inside a multi-round
    * call are computed once while the result plan stays unregistered.
    * Chained single-round passes (q07's user→item→user) replay the
    * prior pass's anti-join from the caller-cached base scan instead —
    * one cached-scan + small broadcast anti-joins per pass, cheaper than
    * a columnar cache build of the full edge set per round.
    *
    * Over a local table (`Shim.isLocal`) the same rounds run on the
    * driver: where a round would persist, it folds (`Shim.localTable`),
    * so no round starts a job, and the result comes back as one local
    * table. Tracking a local table in `caches` holds nothing.
    */
  def filterKCore(ratings: DataFrame, k: Int, target: String,
                  iterations: Int = 1, caches: KCoreCaches): DataFrame = {
    val key = kcoreKey(target)
    // computed once: folded on the driver when local, else persisted
    def once(df: DataFrame): DataFrame =
      if (Shim.isLocal(df)) Shim.localTable(df) else df.persist(StorageLevel.MEMORY_AND_DISK)
    var cur = ratings
    var curDerived = false // produced by a prior round of this loop, not yet persisted
    var it = 0
    var converged = false
    while (it < iterations && !converged) {
      if (curDerived) {
        // the previous round's survivors are about to be scanned by this
        // round's kill-agg AND by whatever consumes the next round's
        // result — persist now so they're computed exactly once.
        cur = once(cur)
        caches.track(cur)
        curDerived = false
      }
      val kill = once(cur.groupBy(key).count().filter(col("count") < k).select(key))
      if (Shim.count(kill) == 0L) { converged = true; kill.unpersist() }
      else {
        cur = cur.join(kill, Seq(key), "left_anti")
        curDerived = true
        caches.track(kill)
      }
      it += 1
    }
    // Converged-at-round-n>1 returns the previous round's ALREADY
    // persisted survivors: hand that cache to the caller (untrack) so
    // release() can't evict the result out from under them.
    if (converged && (cur ne ratings)) caches.untrack(cur)
    Shim.localTable(cur)
  }

  /** The key column of a k-core `target`: user | item. */
  private[graft] def kcoreKey(target: String): String = target match {
    case "user" => "user_id"
    case "item" => "item_id"
    case other  => throw new IllegalArgumentException(s"k-core target must be user|item, got $other")
  }
}

/** Per-call-site cache scope for [[Preprocess.filterKCore]]: kill-set /
  * lineage-truncation caches live here until the owner releases them —
  * iterative loops must not accumulate session-long storage (leaked
  * MEMORY_AND_DISK blocks degraded unrelated queries 3-7× before r3's
  * hygiene pass). Chained k-core passes share one scope so each pass's
  * convergence check reuses the previous passes' still-live kill caches.
  */
final class KCoreCaches {
  private val live = scala.collection.mutable.Buffer.empty[DataFrame]
  private[prep] def track(df: DataFrame): Unit = synchronized { live += df }
  private[prep] def untrack(df: DataFrame): Unit = synchronized {
    val i = live.indexWhere(_ eq df)
    if (i >= 0) live.remove(i)
  }

  /** Release every cache tracked in this scope. Call after materializing
    * (or finishing with) the returned edge set. */
  def release(): Unit = synchronized {
    live.foreach(_.unpersist(blocking = false))
    live.clear()
  }
}
