package graft.queries

import graft.util.Memo
import org.apache.spark.sql.SparkSession

/** Every query of the driver contract, from the per-family modules.
  *
  * Adding a query: append a [[Query]] to its family's `all` with its run,
  * its oracle and the memos its run reads (`uses`). Release points and
  * the bench warm-up follow from those records; nothing else names it. */
object Registry {

  /** All queries in bench order: sorted by name, as
    * [[graft.LocalSession.select]] runs them. */
  lazy val all: Seq[Query] = {
    val qs = Seq(Relational.all, Io.all, Recommend.all, KgModels.all, Graph.all, Text.all,
      Vectors.all, Multimodal.all, Events.all, Stats.all).flatten.sortBy(_.name)
    val dup = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty, s"query names declared twice: ${dup.mkString(", ")}")
    qs
  }

  /** For each query, the memos to release once it has run: those it is
    * the last declarer of in bench order. */
  lazy val releases: Map[String, Seq[Memo[_]]] =
    all.flatMap(q => q.uses.map(_ -> q.name)).groupMapReduce(_._1)(_._2)(Ordering.String.max)
      .toSeq.groupMap(_._2)(_._1)

  /** Bench hook, called outside the timed window after `query` ran:
    * release every memo whose last declarer it is, for this session
    * only — concurrent sessions keep theirs. Releasing is always safe: a
    * later read rebuilds, so a wrong release costs time, never
    * correctness. */
  def releaseAfter(query: String, s: SparkSession): Unit =
    releases.getOrElse(query, Nil).foreach(_.release(s))
}
