package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One benchmark run in one JVM:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *                  [--scale F] [--fault none|train-item|drop-uri] [--setup-only]
  *
  * Closed loop, one call at a time, local[cores]. With `--trace 0` the entry
  * point is called untraced: the first call gives the end-to-end figures,
  * further calls run while S seconds have not passed. With `--trace 1` an
  * untraced call is followed by a traced replay, whose recommendation lists
  * are checked, and a second untraced call. The result is one JSON line,
  * printed after `spark.stop()`.
  */
object Main {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Fixed single-thread work, for comparing hosts and spotting drift
    * within a run. */
  private def calibrate(): Double = {
    val t0 = System.nanoTime()
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 60000000) { h ^= h << 13; h ^= h >>> 7; h ^= h << 17; i += 1 }
    if (h == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }

  private def jsonNum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  private def jsonStr(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val setupOnly = args.contains("--setup-only")
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    // the session Experiment.main builds, at the host's core count
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    spark.sparkContext.setLogLevel("ERROR")
    if (setupOnly) {
      spark.stop()
      println(s"""{"setup_s":${jsonNum(setupS)}}""")
      System.out.flush()
      return
    }
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val scale = opt.getOrElse("scale", "1").toDouble
    val fault = opt.getOrElse("fault", "none")
    val work = new File(opt("work"))

    val listener = new SpanListener
    if (traced) spark.sparkContext.addSparkListener(listener)
    val calibPre = calibrate()
    val t0Gen = System.nanoTime()
    val w = Workloads.prepare(workload, spark, work, seed, scale, fault, cores)
    val genS = (System.nanoTime() - t0Gen) / 1e9

    var attempted = 0
    var failed = 0
    val failedChecks = mutable.LinkedHashSet.empty[String]
    def record(o: Outcome): Unit = {
      attempted += 1
      if (o.failed.nonEmpty) {
        failed += 1
        o.failed.foreach { c =>
          failedChecks += c
          System.err.println(s"perfbench: workload $workload: check failed: $c")
        }
      }
    }
    def attempt[T](what: String)(body: => T): Option[T] =
      try Some(body) catch {
        case e: Exception =>
          attempted += 1; failed += 1; failedChecks += s"$what:exception"
          System.err.println(s"perfbench: workload $workload: $what threw: $e")
          e.printStackTrace()
          None
      }

    val wall, cpu, foldS = mutable.ArrayBuffer.empty[Double]
    val quality = mutable.ArrayBuffer.empty[(Double, Double)]
    val tracedWall, coverage = mutable.ArrayBuffer.empty[Double]
    val layerSamples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def untraced(): Option[Outcome] = {
      System.gc()
      val t0 = System.nanoTime(); val c0 = Clocks.cpuNanos
      attempt("entry") {
        val o = w.entry()
        wall += (System.nanoTime() - t0) / 1e9
        cpu += (Clocks.cpuNanos - c0) / 1e9
        foldS += o.foldS
        val repeats = quality.headOption.forall { case (m, n) => o.map.equals(m) && o.ndcg.equals(n) }
        quality += ((o.map, o.ndcg))
        record(if (repeats) o else o.copy(failed = o.failed :+ "entry_quality_repeats"))
        o
      }
    }
    /** A traced replay; its MAP/nDCG must equal the untraced entry point's. */
    def replay(): Unit = {
      System.gc()
      val tr = new Tracer(spark.sparkContext, listener)
      val t0 = System.nanoTime()
      attempt("replay") {
        val o = w.replay(tr)
        val total = (System.nanoTime() - t0) / 1e9
        val drift = quality.headOption.exists { case (m, n) =>
          !(o.map.equals(m) && o.ndcg.equals(n)) }
        record(o.copy(failed = o.failed ++ (if (drift) Seq("replay_quality_equals_entry") else Nil)))
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        val sum = tr.summary()
        // output checks run inside the replay but are not the program's work
        val checkS = sum.get("check").map(_("wall_s")).getOrElse(0.0)
        val covered = sum.collect { case (n, m) if n != "check" => m("wall_s") }.sum
        tracedWall += total - checkS
        coverage += covered / (total - checkS)
        def put(k: String, v: Double): Unit = layerSamples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
        sum.foreach { case (n, m) => if (n != "check") m.foreach { case (c, v) => put(s"$n.$c", v) } }
        o.counts.foreach { case (c, v) => put(s"count.$c", v) }
        put("count.map", o.map); put("count.ndcg", o.ndcg)
      }
    }

    val tRun = System.nanoTime()
    def elapsed = (System.nanoTime() - tRun) / 1e9
    // The end-to-end figures come from the first call in a fresh JVM: what
    // a one-shot `Experiment -c` user pays. Later calls (only while
    // `seconds` have not yet passed) are reported as warm samples.
    untraced()
    if (traced) { replay(); untraced() }
    else while (elapsed < seconds && wall.size < 50) untraced()
    val runS = elapsed
    val calibPost = calibrate()
    val peakRss = Clocks.peakRssMb

    val warm = wall.drop(1).toSeq
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
    if (!traced) {
      metrics("setup_s") = (setupS, "s", 1)
      metrics("experiment_s") = (wall.headOption.getOrElse(Double.NaN), "s", 1)
      metrics("fold_s") = (foldS.headOption.getOrElse(Double.NaN), "s", 1)
      metrics("ratings_per_s") = (w.inputRatings / wall.headOption.getOrElse(Double.NaN), "1/s", 1)
      metrics("cpu_s") = (cpu.headOption.getOrElse(Double.NaN), "s", 1)
    } else {
      val n = tracedWall.size
      def layer(k: String): Double = layerSamples.get(k).map(b => median(b.toSeq)).getOrElse(0.0)
      val units = Map("wall_s" -> "s", "self_s" -> "s", "cpu_s" -> "s", "gc_s" -> "s", "task_s" -> "s",
        "shuffle_write_mb" -> "MB", "spill_mb" -> "MB")
      for (span <- Spans.layers; (c, u) <- units) metrics(s"$span.$c") = (layer(s"$span.$c"), u, n)
      metrics("prep.kcore.jobs") = (layer("prep.kcore.jobs"), "count", n)
      metrics("prep.kcore.codegen_classes") = (layer("prep.kcore.codegen_classes"), "count", n)
      metrics("prep.kcore.kept_ratio") = (layer("prep.kcore.kept_edges") / w.inputRatings, "ratio", n)
      val kgeWall = layer("kge.train.wall_s")
      metrics("kge.train.triples_per_s") =
        (if (kgeWall > 0) layer("count.triples") / kgeWall else 0.0, "1/s", n)
      metrics("kge.train.codegen_classes") = (layer("kge.train.codegen_classes"), "count", n)
      metrics("walk.train.codegen_classes") = (layer("walk.train.codegen_classes"), "count", n)
      metrics("model.recommend.jobs") = (layer("model.recommend.jobs"), "count", n)
      metrics("model.recommend.codegen_classes") = (layer("model.recommend.codegen_classes"), "count", n)
      metrics("etl.map.fetch_wait_s") = (layer("etl.map.fetch_wait_s"), "s", n)
      metrics("etl.enrich.fetch_wait_s") = (layer("etl.enrich.fetch_wait_s"), "s", n)
      metrics("etl.map.match_ratio") = (layer("count.match_ratio"), "ratio", n)
      val convWall = layer("etl.convert.wall_s")
      metrics("etl.convert.rows_per_s") =
        (if (convWall > 0) layer("count.converted_rows") / convWall else 0.0, "1/s", n)
      // report means, equal to the untraced call's (checked above)
      metrics("eval.map_at_k") = (layer("count.map"), "ratio", n)
      metrics("eval.ndcg_at_k") = (layer("count.ndcg"), "ratio", n)
      metrics("peak_rss_mb") = (peakRss, "MB", 1)
      metrics("span_coverage") = (median(coverage.toSeq), "ratio", n)
      // the replay runs warm, so it is compared with the warm untraced call
      metrics("trace_overhead_ratio") = (median(tracedWall.toSeq) / median(warm), "ratio", n)
    }

    val info = mutable.LinkedHashMap[String, String](
      "workload" -> jsonStr(workload), "seed" -> seed.toString, "trace" -> (if (traced) "1" else "0"),
      "scale" -> jsonNum(scale), "fault" -> jsonStr(fault), "cores" -> cores.toString,
      "heap_max_mb" -> jsonNum(Runtime.getRuntime.maxMemory / 1048576.0),
      "input_ratings" -> w.inputRatings.toString, "generate_s" -> jsonNum(genS),
      "measured_s" -> jsonNum(runS), "setup_sample_s" -> jsonNum(setupS),
      "untraced_calls" -> wall.size.toString, "traced_calls" -> tracedWall.size.toString,
      "failed_ratio" -> jsonNum(failed.toDouble / math.max(1, attempted)),
      "failed_checks" -> failedChecks.map(jsonStr).mkString("[", ",", "]"),
      "calib_pre_s" -> jsonNum(calibPre), "calib_post_s" -> jsonNum(calibPost),
      "untraced_wall_s" -> wall.map(jsonNum).mkString("[", ",", "]"),
      "peak_rss_mb" -> jsonNum(peakRss),
      "map_at_k" -> jsonNum(quality.headOption.fold(Double.NaN)(_._1)),
      "ndcg_at_k" -> jsonNum(quality.headOption.fold(Double.NaN)(_._2)))
    spark.stop()
    val m = metrics.map { case (k, (v, u, n)) =>
      s"${jsonStr(k)}:{\"value\":${jsonNum(v)},\"unit\":${jsonStr(u)},\"samples\":$n}" }.mkString("{", ",", "}")
    val inf = info.map { case (k, v) => s"${jsonStr(k)}:$v" }.mkString("{", ",", "}")
    println(s"""{"attempted":$attempted,"failed":$failed,"metrics":$m,"info":$inf}""")
    System.out.flush()
  }
}

object Spans {
  /** Layer spans, named after the program's modules. */
  val layers: Seq[String] = Seq("cli.load", "prep.binarize", "prep.kcore", "split.assign",
    "kge.train", "walk.train", "model.train", "model.recommend", "eval.means", "report.pivot",
    "etl.convert", "etl.map", "etl.enrich")
}
