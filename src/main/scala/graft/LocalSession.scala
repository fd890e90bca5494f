package graft

import org.apache.spark.sql.SparkSession

/** The one place this project builds a SparkSession. Every main (Bench,
  * Verify, PlanDump, GoldenGen, cli.Experiment, cli.DataIntegration)
  * and the test suite go through [[apply]], so they all plan and run
  * under the same conf:
  *
  *  - master `SPARK_MASTER`, else `local[cores]`
  *  - cores `SPARK_GRAFT_CPUS`, else the host's processor count
  *  - shuffle partitions = cores
  *  - UTC session time zone: TIMESTAMP_NTZ columns cast through it, and
  *    the oracle SQL's epoch-ms arithmetic assumes UTC
  *  - UI off
  *  - a 10000-entry codegen class cache: the default 100 entries evict
  *    the warmed-up stages of a multi-query run (~10 generated stages
  *    per query), and an evicted stage recompiles as a new class and
  *    re-enters interpreted/C1 code. Static conf, so it must be set
  *    before the session exists.
  *  - log level WARN
  */
object LocalSession {

  /** `SPARK_GRAFT_CPUS`, else the host's processor count. */
  private def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The process's session: built on the first call, returned as is
    * (conf and log level untouched) on every later call until it is
    * stopped. */
  def apply(cores: Int = defaultCores): SparkSession = synchronized {
    SparkSession.getDefaultSession.filter(!_.sparkContext.isStopped).getOrElse {
      val spark = SparkSession.builder()
        .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cores]"))
        .appName("graft")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      spark
    }
  }

  /** Delete dead runs' scratch dirs, then claim this run's
    * ([[SparkEntry.runScratch]]; see [[graft.util.Scratch]] for why it
    * must outlive the JVM). */
  def claimRunScratch(): Unit = {
    graft.util.Scratch.sweepStaleRuns(SparkEntry.runScratch)
    graft.util.Scratch.claim(SparkEntry.runScratch)
  }

  /** The named entries `only` selects, sorted by name. `only` is a
    * comma-separated list of substrings (`SPARK_GRAFT_ONLY`, e.g.
    * `q07_kcore,q41`); a name is kept when it contains any of them, and
    * `None` keeps everything. A filter that matches nothing throws: a
    * typo'd filter silently running zero queries would read as a
    * massive speedup or a clean dump. */
  def select[T](named: Iterable[(String, T)],
                only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Seq[(String, T)] = {
    val sorted = named.toSeq.sortBy(_._1)
    only.fold(sorted) { filter =>
      val keys = filter.split(',').map(_.trim).filter(_.nonEmpty)
      val hit = sorted.filter { case (name, _) => keys.exists(name.contains) }
      require(hit.nonEmpty, s"SPARK_GRAFT_ONLY=$filter matched no name")
      hit
    }
  }
}
