package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rate-burst detection over an event log — the monitoring primitive
  * that flags a traffic class running hot against its own trailing
  * baseline (error spikes, crawler bursts, promo surges): each
  * (event_type, hour) bucket is scored as its count relative to the
  * trailing `baseline`-hour mean, in exact scaled integers —
  * `rate_e4 = cnt·baseline·10⁴ div Σ_trailing` (the trailing sum
  * EXCLUDES the current hour, so a burst cannot dilute its own
  * baseline) — and flagged when the ratio clears `thresholdE4`.
  * Buckets without a FULL trailing window are emitted unflagged with
  * rate −1: a partial baseline would manufacture false bursts on
  * day one.
  *
  * Scale shape: the corpus collapses FIRST — one map-side-combined
  * (type, hour) count exchange — and the lag window runs on that
  * skinny table (types × hours rows), so the low-cardinality window
  * key is harmless: the single-task sort the window implies is over
  * thousands of rows, not the corpus (a low-cardinality window key is
  * a trap on raw data; windowing an aggregate this small is the
  * intended use).
  */
object Bursts {

  /** Returns (event_type, hour, cnt, rate_e4, is_burst) per observed
    * (type, epoch-hour) bucket. `rate_e4 = −1` (never a burst) until
    * `baseline` full trailing hours exist. Absent hours count as
    * zero activity only if they appear for another type — buckets
    * are observed hours, and the trailing window is over the
    * PREVIOUS `baseline` observed-hour rows of the same type, the
    * standard sparse-series simplification (documented; a dense
    * hour spine would join a generated calendar). */
  def hourlyBursts(events: DataFrame, typeCol: String, tsMsCol: String,
                   baseline: Int = 24, thresholdE4: Long = 30000L): DataFrame = {
    require(baseline >= 1, "bursts: baseline >= 1")
    val hourly = events
      .select(col(typeCol).as("event_type"),
        expr(s"$tsMsCol div 3600000L").as("hour"))
      .groupBy("event_type", "hour").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy("hour")
      .rowsBetween(-baseline, -1)
    hourly
      .withColumn("__trail", sum("cnt").over(w))
      .withColumn("__n", count(lit(1)).over(w))
      .select(col("event_type"), col("hour"), col("cnt"),
        when(col("__n") < baseline || col("__trail") === 0, lit(-1L))
          .otherwise(expr(s"cnt * ${baseline}L * 10000L div __trail")).as("rate_e4"))
      .withColumn("is_burst",
        (col("rate_e4") >= thresholdE4 && col("rate_e4") =!= -1L).cast("int"))
  }
}
