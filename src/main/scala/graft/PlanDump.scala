package graft
import java.nio.file.{Files, Paths}

/** Optimization-round tooling: dump `.explain("formatted")` for each
  * declared query to `<outDir>/<name>.txt` — the plan evidence the
  * judge checks against OPTIMIZATION_rNN.md claims. The session comes
  * from [[LocalSession]], as Bench's does, so the plans are the ones
  * the bench actually runs.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir>
  * SPARK_GRAFT_ONLY=q108,q142 selects a subset (substring match).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    LocalSession.claimRunScratch()
    val spark = LocalSession()
    Files.createDirectories(Paths.get(outDir))
    LocalSession.select(SparkEntry.queries).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
        System.err.println(s"[plandump] $name ok")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
