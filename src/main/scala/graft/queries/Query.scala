package graft.queries

import graft.util.Memo
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One entry of the driver contract: a named Spark query over a scale
  * directory and the DuckDB SQL that replays it over the same parquet
  * tables.
  *
  * @param uses the [[Memos]] the run reads directly. The bench releases
  *             each memo right after the last query (in name order) that
  *             declares it, so a read that is not declared throws.
  * @param warm the bench replays this query on a small slice of the
  *             tables before the timed suite: its pipeline compiles
  *             generated stages no other warm-up compiles, and cold
  *             compilation would otherwise land in its timed window.
  * @param oracle evaluated when the oracle map is read, after the runs
  *             (q52's oracle replays centroids its run recorded). */
final class Query(val name: String, run: (SparkSession, String) => DataFrame,
                  oracle: => String, val uses: Seq[Memo[_]], val warm: Boolean) {

  def apply(s: SparkSession, dir: String): DataFrame =
    Memo.reading(name, uses)(run(s, dir))

  def oracleSql: String = oracle
}

object Query {
  def apply(name: String, uses: Seq[Memo[_]] = Nil, warm: Boolean = false,
            run: (SparkSession, String) => DataFrame, oracle: => String): Query =
    new Query(name, run, oracle, uses, warm)
}
