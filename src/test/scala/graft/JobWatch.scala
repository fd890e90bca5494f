package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Watches the Spark jobs a block starts on the calling thread. */
object JobWatch {

  /** One job: its description (or "null") and the serialized bytes its
    * tasks sent back to the driver as results. */
  final case class Job(description: String, resultBytes: Long)

  /** Every job `body` starts, in start order. The block's jobs are told
    * apart by a job group of their own. */
  def jobs(spark: SparkSession)(body: => Unit): Seq[Job] = {
    val sc = spark.sparkContext
    val group = s"job-watch-${System.nanoTime()}"
    val sentinel = s"$group-sentinel"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Seq[Int])]()
    val stageBytes = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          seen.add((String.valueOf(p.getProperty("spark.jobGroup.id")),
            String.valueOf(p.getProperty("spark.job.description")), e.stageIds))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => stageBytes.merge(e.stageId, m.resultSize, _ + _))
    }
    def started = seen.toArray(new Array[(String, String, Seq[Int])](0)).toSeq
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, null)
      body
      // listener events arrive in order: once the sentinel job's start is
      // seen, so are the starts and task ends of every job before it
      sc.setJobGroup(sentinel, null)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30000000000L
      while (!started.exists(_._1 == sentinel) && System.nanoTime() < deadline) Thread.sleep(20)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    started.collect { case (`group`, d, stages) =>
      Job(d, stages.map(s => Option(stageBytes.get(s)).map(_.longValue).getOrElse(0L)).sum)
    }
  }

  /** The description of every job `body` starts, in start order. */
  def descriptions(spark: SparkSession)(body: => Unit): Seq[String] =
    jobs(spark)(body).map(_.description)
}
