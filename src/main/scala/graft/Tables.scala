package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver test tables (TESTDATA.md) plus the derived
  * rating-bipartite-graph view used by the recommender operators
  * (FIXTURES.md §B mapping): user := o_custkey, item := l_partkey,
  * rating := quantity bucket in 1..5, ts := epoch millis of l_shipdate.
  *
  * The reference engine's rating graph is an undirected simple graph
  * where duplicate (user, item) edges overwrite (last-wins on insert
  * order, /root/reference/framework/dataloader/graph/graph.py:137-144).
  * Insert order is not meaningful under distributed execution, so the
  * deterministic analogue here is max(rating), max(ts) per pair.
  */
object Tables {

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Rating edges derived from orders ⋈ lineitem (shuffle join on
    * orderkey, then a partial-aggregated groupBy on (user, item)).
    *
    * A [[graft.util.Memo]], persisted and eagerly materialized once per
    * (session, dir): several consumers scan the view 2-3× inside a
    * single action (triple export unions, anti-join recommenders), and a
    * lazy persist lets those scans race the cache population, each
    * recomputing the join. Most queries read it, so it is exempt from
    * declaration and held for the session's life. */
  def ratings(spark: SparkSession, dir: String): DataFrame = ratingsMemo(spark, dir)

  private val ratingsMemo = graft.util.Memo.frame("ratings", checked = false) { (spark, dir) =>
    val o = t(spark, dir, "orders")
    val l = t(spark, dir, "lineitem")
    o.join(l, o("o_orderkey") === l("l_orderkey"))
      .select(
        o("o_custkey").as("user_id"),
        l("l_partkey").as("item_id"),
        least(lit(5), lit(1) + floor((l("l_quantity") - 1) / 10)).cast("double").as("rating"),
        unix_millis(l("l_shipdate").cast("timestamp")).as("ts")) // NTZ -> UTC instant (session TZ is UTC)
      .groupBy("user_id", "item_id")
      .agg(max("rating").as("rating"), max("ts").as("ts"))
  }

  /** Normalize the events `ts` column to TimestampType whatever the
    * on-disk layout (the driver has shipped two so far):
    *  - TIMESTAMP(NANOS) parquet (pre-r9 testdata) arrives as LongType
    *    under `nanosAsLong` — integral-divide to micros (ns values
    *    exceed 2^53, so double math would corrupt them);
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) (current testdata)
    *    arrives as TIMESTAMP_NTZ — cast to TimestampType; every entry
    *    point pins the session TZ to UTC, so the resulting instant
    *    equals DuckDB's naive-UTC `epoch_ms(ts)` reading;
    *  - an already-adjusted TIMESTAMP passes through. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType          => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType  => df.withColumn("ts", col("ts").cast(TimestampType))
      case _: TimestampType  => df
      case other => throw new IllegalStateException(
        s"events.ts: unsupported parquet-decoded type $other")
    }
  }

  /** Read an events parquet path; only if the footer carries the legacy
    * TIMESTAMP(NANOS) type (which the vectorized reader refuses) fall
    * back to `nanosAsLong`. The conf is set only on that branch — and
    * left set, because the lazy scan re-consults it at action time. */
  private[graft] def readEventsRaw(spark: SparkSession, path: String): DataFrame =
    try spark.read.parquet(path)
    catch {
      case e: Exception if Option(e.getMessage).exists(m =>
          m.contains("NANOS") || m.contains("nanosAsLong")) =>
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.read.parquet(path)
    }

  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(readEventsRaw(spark, s"$dir/events.parquet"))

  /** DuckDB CTE matching [[ratings]] byte-for-byte (same column names,
    * same arithmetic). Compose with `, name AS (...)` continuations. */
  val ratingsSql: String =
    """WITH ratings AS (
      |  SELECT o_custkey AS user_id, l_partkey AS item_id,
      |         MAX(CAST(LEAST(5, 1 + FLOOR((l_quantity - 1) / 10)) AS DOUBLE)) AS rating,
      |         MAX(epoch_ms(l_shipdate)) AS ts
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY 1, 2
      |)""".stripMargin
}
