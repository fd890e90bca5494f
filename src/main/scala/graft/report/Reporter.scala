package graft.report

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.LocalCsv
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Fold-major report pivot (SURVEY §2.8 M9): the reference writes wide
  * CSVs `model, fold-{i}_{metric}, ..., {metric}_mean, {metric}_std`
  * with POPULATION std (np.std ddof=0 — `framework/reporter/
  * report.py:42-54`, `experiment.py:93-106`).
  */
object Reporter {

  /** metrics: (model, fold, value) -> one row per model with
    * fold-1..fold-k columns plus mean and stddev_pop: the values of
    * `groupBy(model).pivot(fold, 1 to k).agg(round(first(value), 6))`
    * joined on model to `round(avg(value), 6)` and
    * `round(coalesce(stddev_pop(value), 0), 6)`, with their column
    * names, types and nullability. A report holds one row per model, so
    * this is computed on the driver from one collect of the rows and
    * comes back as a local table. */
  def foldPivot(metrics: DataFrame, k: Int, metricName: String): DataFrame = {
    val rows = metrics.select(col("model"), col("fold"), col("value").cast("double")).collect()
      .map(r => (r.get(0), r.get(1), Seq(r.get(2))))
    pivotTable(metrics.sparkSession, metrics.schema("model"), Seq(metricName -> true), rows.toSeq, k)
  }

  /** The [[foldPivot]] of several metrics side by side, one row per
    * model, as joining their pivots on `model` lays them out — built on
    * the driver as one local table. `rows` are (model, fold, one value
    * per metric, in `metrics` order); a metric whose flag is false gets
    * its fold columns only, without mean and std. A null model gets no
    * row (the join on model drops it); models keep first-seen order. */
  def pivotTable(spark: SparkSession, model: StructField, metrics: Seq[(String, Boolean)],
                 rows: Seq[(Any, Any, Seq[Any])], k: Int): DataFrame = {
    def round6(d: Double): Double =
      if (d.isNaN || d.isInfinite) d
      else java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val byModel = rows.filter(_._1 != null).groupBy(_._1)
    val out = rows.map(_._1).filter(_ != null).distinct.map { m =>
      val group = byModel(m)
      val cells = metrics.indices.flatMap { i =>
        val vals = group.map(r => (r._2, r._3(i)))
        // pivot: the first value of each fold, null when none
        val folds = (1 to k).map(f => vals.collectFirst {
          case (fold: Number, v) if fold.longValue == f => if (v == null) null else round6(v.asInstanceOf[Double])
        }.orNull)
        if (!metrics(i)._2) folds
        else {
          // avg and stddev_pop skip nulls; std by Spark's running
          // (n, mean, m2) update
          val xs = vals.collect { case (_, v: java.lang.Double) => v.doubleValue }
          var mean = 0.0; var m2 = 0.0
          xs.zipWithIndex.foreach { case (x, j) =>
            val delta = x - mean
            val deltaN = delta / (j + 1)
            mean += deltaN
            m2 += delta * (delta - deltaN)
          }
          if (xs.isEmpty) folds :+ null :+ 0.0
          else folds :+ round6(xs.sum / xs.size) :+ round6(math.sqrt(m2 / xs.size))
        }
      }
      Row.fromSeq(m +: cells)
    }
    val fields = metrics.flatMap { case (name, stats) =>
      (1 to k).map(f => StructField(s"fold-${f}_$name", DoubleType)) ++
        (if (stats) Seq(StructField(s"${name}_mean", DoubleType), StructField(s"${name}_std", DoubleType))
         else Nil)
    }
    spark.createDataFrame(out.asJava, StructType(model +: fields))
  }

  /** CSV sink matching the reference's writer (S6, report.py:25-29):
    * single header file per report. A report that is a local table, as
    * `pivotTable` builds it, is written on the driver without a Spark job
    * by Spark's own CSV generator (`LocalCsv.write`), into the layout
    * Spark's writer leaves: a directory of one `part-00000-*.csv` and
    * `_SUCCESS`. Any other frame is written by Spark. */
  def writeCsv(report: DataFrame, path: String): Unit =
    if (!LocalCsv.write(report, path))
      report.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)

  /** Project the wide in-memory report onto the reference's CSV artifact
    * shape (report.py:31-63): FOLD-major metric columns then per-metric
    * mean/std for k-fold runs; plain `{metric}@{k}` columns — no fold
    * prefix, no mean/std — for the single-split (hold-out) case; never
    * any execution_time columns (those live in the separate
    * ExecutionTimesReporter file). The returned DataFrame keeps the full
    * metric-major layout for programmatic consumers; only the written
    * artifact takes this shape. */
  def referenceArtifact(report: DataFrame, metricNames: Seq[String], k: Int,
                        nFolds: Int): DataFrame = {
    if (nFolds > 1) {
      val foldCols = for (f <- 1 to nFolds; m <- metricNames)
        yield col(s"fold-${f}_$m@$k")
      val statCols = metricNames.flatMap(m =>
        Seq(col(s"$m@${k}_mean"), col(s"$m@${k}_std")))
      report.select(col("model") +: (foldCols ++ statCols): _*)
    } else
      report.select(col("model") +:
        metricNames.map(m => col(s"fold-1_$m@$k").as(s"$m@$k")): _*)
  }

  /** Machine-spec string embedded in the execution-times report's model
    * name (report.py:99: `{model} (CPU: ...; RAM: ...GB; GPUs: [...])`).
    * JVM equivalents of cpuinfo/psutil/GPUtil; no GPU probe exists in
    * the JVM, and Spark-side compute is CPU-only here, so GPUs is the
    * honest empty list. */
  lazy val machineSpec: String = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val ramGb = os match {
      case b: com.sun.management.OperatingSystemMXBean =>
        math.round(b.getTotalMemorySize / (1024.0 * 1024 * 1024))
      case _ => -1L
    }
    s"CPU: ${os.getArch} x${os.getAvailableProcessors}; RAM: ${ramGb}GB; GPUs: []"
  }
}
