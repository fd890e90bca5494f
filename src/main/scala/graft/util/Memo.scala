package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import scala.util.DynamicVariable

/** A value built once per (session, dir) and shared by every reader in
  * that session — the rating view, the holdout split, the family
  * materializations several queries consume.
  *
  *  - A build is pinned as it is made: a DataFrame is persisted
  *    MEMORY_AND_DISK and counted once, so no downstream action can scan
  *    it several times before the cache populates (each scan would
  *    recompute the build).
  *  - A hit is re-pinned: a session-wide `clearCache()` drops the blocks
  *    but not the entry, and a hit must never degrade to
  *    recompute-per-scan.
  *  - Entries whose session has stopped are evicted on every read, so a
  *    long-lived multi-session process does not retain dead sessions'
  *    values. The session's identity, not only its hash, must match.
  *  - Two racing builds: the first insert wins and the loser releases
  *    its copy, so no cache entry leaks untracked.
  *  - [[release]] drops one session's entries; a later read rebuilds.
  *
  * Scale posture: a SQL-level MEMORY_AND_DISK persist is stored as
  * compressed columnar batches that spill to disk under memory
  * pressure, so a large memo degrades to local-disk reads, not an OOM.
  * Lifetime is the real scale risk; the bench releases each memo right
  * after its last reader ([[graft.queries.Registry.releaseAfter]]).
  *
  * A query declares the memos it reads ([[graft.queries.Query.uses]]);
  * reading a `checked` memo it did not declare throws with both names,
  * because the release points are derived from those declarations.
  * Reads made while another memo builds belong to that build, not to
  * the query, and are exempt. */
final class Memo[A] private[util] (val name: String, checked: Boolean,
                                   build: (SparkSession, String) => A,
                                   sessionOf: A => SparkSession,
                                   repin: A => Unit, drop: A => Unit,
                                   stopped: SparkSession => Boolean = _.sparkContext.isStopped) {

  private val entries = scala.collection.concurrent.TrieMap.empty[(Int, String), A]

  def apply(s: SparkSession, dir: String): A = {
    if (checked) Memo.reader.value.foreach { case (query, uses) =>
      if (!uses.contains(this)) throw new IllegalStateException(
        s"query $query reads memo $name but does not declare it in its uses")
    }
    entries.filterInPlace((_, a) => !stopped(sessionOf(a)))
    val key = (System.identityHashCode(s), dir)
    entries.get(key).filter(sessionOf(_) eq s) match {
      case Some(a) => repin(a); a
      case None =>
        val a = Memo.reader.withValue(None)(build(s, dir))
        entries.putIfAbsent(key, a) match {
          case Some(prev) if sessionOf(prev) eq s => drop(a); prev
          case Some(_) => entries.put(key, a); a // stale same-hash entry
          case None => a
        }
    }
  }

  /** Unpersist and forget this memo's entries for `s`; other sessions
    * keep theirs. */
  def release(s: SparkSession): Unit =
    entries.filterInPlace { (_, a) =>
      if (sessionOf(a) eq s) { drop(a); false } else true
    }
}

object Memo {

  /** The query whose run is on this thread's stack, with its declared
    * memos; None outside a query and inside a memo build. */
  private val reader = new DynamicVariable[Option[(String, Seq[Memo[_]])]](None)

  /** Run `body` as `query`, which declares it reads `uses`. */
  def reading[T](query: String, uses: Seq[Memo[_]])(body: => T): T =
    reader.withValue(Some((query, uses)))(body)

  /** A DataFrame memo. `checked = false` exempts it from declaration:
    * for a base view most queries read and no query releases. */
  def frame(name: String, checked: Boolean = true)(
      build: (SparkSession, String) => DataFrame): Memo[DataFrame] =
    new Memo[DataFrame](name, checked, (s, dir) => pin(build(s, dir)), _.sparkSession,
      df => if (df.storageLevel == StorageLevel.NONE) pin(df),
      _.unpersist(blocking = false))

  /** A memo of any other value that pins itself when built. */
  def apply[A](name: String)(build: (SparkSession, String) => A)(
      sessionOf: A => SparkSession, repin: A => Unit, release: A => Unit): Memo[A] =
    new Memo[A](name, checked = true, build, sessionOf, repin, release)

  private def pin(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    df
  }
}
