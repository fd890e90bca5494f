package graft

import graft.eval.Metrics
import graft.queries.{Memos, Registry}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with DuckDB oracle SQL over the same parquet tables.
  * Both maps are views of [[graft.queries.Registry]], where each query's
  * run and oracle sit side by side in its family module.
  *
  * Numeric-parity rules used throughout (so value hashes match the
  * DuckDB oracle bit-for-bit):
  *  - money sums go through decimal(18,2)/(38,x) — exact, order-free;
  *  - double aggregates of non-integral values are round()ed to absorb
  *    summation-order ulp noise;
  *  - every ranking window carries a total-order tie-break;
  *  - timestamps are compared as epoch millis (unix_millis/epoch_ms).
  */
object SparkEntry {

  /** Per-run scratch root for the sink/roundtrip queries; see
    * [[graft.queries.Shared.runScratch]]. */
  private[graft] val runScratch: String = graft.queries.Shared.runScratch

  /** Flagship: end-to-end recommender spine on sf0.001 — derive the
    * rating graph, temporal split, popularity top-5, MAP@5 per user. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Metrics.apPerUser(Memos.popRecs(spark, dir), Memos.testRatings(spark, dir), 5, 4.0)
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> (q.apply _)).toMap

  def oracleSql: Map[String, String] = Registry.all.map(q => q.name -> q.oracleSql).toMap
}
