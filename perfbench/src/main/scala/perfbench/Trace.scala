package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Process-wide clocks the spans read: wall, process CPU (all JVM threads,
  * so executor threads in local mode are included), GC and generated-class
  * compilations. */
object Clocks {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  def cpuNanos: Long = os.getProcessCpuTime
  def gcMillis: Long = gcs.map(_.getCollectionTime.max(0L)).sum
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}

/** Task metrics summed per span key. Jobs carry the key as a local
  * property, so every job a span's call starts (from any thread that
  * inherits the property) is attributed to that span. */
final class SpanListener extends SparkListener {
  final class Acc { var jobs = 0L; var taskMs = 0L; var shuffleWriteBytes = 0L; var spillBytes = 0L }
  private val stageKey = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val accs = new java.util.concurrent.ConcurrentHashMap[String, Acc]()
  private def acc(k: String) = accs.computeIfAbsent(k, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val key = Option(e.properties).flatMap(p => Option(p.getProperty(SpanListener.Property)))
    key.foreach { k =>
      e.stageIds.foreach(stageKey.put(_, k))
      val a = acc(k); a.synchronized(a.jobs += 1)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (k <- Option(stageKey.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val a = acc(k)
      a.synchronized {
        a.taskMs += m.executorRunTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  def get(k: String): Acc = Option(accs.get(k)).getOrElse(new Acc)
}
object SpanListener { val Property = "perfbench.span" }

/** One call's clock readings at its start and end. */
final case class Span(name: String, key: String, depth: Int, t0: Long, var t1: Long,
                      cpu0: Long, var cpu1: Long, gc0: Long, var gc1: Long,
                      cg0: Long, var cg1: Long, extra: mutable.Map[String, Double])

/** One traced replay: spans are kept in memory and summarised once, after
  * the replay has ended. */
final class Tracer(sc: SparkContext, listener: SpanListener) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  def span[T](name: String)(body: => T): T = {
    val key = s"${spans.size}/$name"
    val s = Span(name, key, stack.size, System.nanoTime(), 0L, Clocks.cpuNanos, 0L,
      Clocks.gcMillis, 0L, Clocks.codegenCompiles, 0L, mutable.Map.empty)
    spans += s
    val outerKey = sc.getLocalProperty(SpanListener.Property)
    sc.setLocalProperty(SpanListener.Property, key)
    stack = s :: stack
    try body
    finally {
      s.t1 = System.nanoTime(); s.cpu1 = Clocks.cpuNanos; s.gc1 = Clocks.gcMillis
      s.cg1 = Clocks.codegenCompiles
      stack = stack.tail
      sc.setLocalProperty(SpanListener.Property, outerKey)
    }
  }

  /** Attach a count to the innermost open span. */
  def note(k: String, v: Double): Unit =
    stack.headOption.foreach(s => s.extra(k) = s.extra.getOrElse(k, 0.0) + v)

  /** Per layer name: the seven counters summed over that layer's spans,
    * plus extras. `self_s` is a span's duration minus the part covered by
    * its direct children. Call after the listener bus has drained. */
  def summary(): Map[String, Map[String, Double]] = {
    def secs(a: Long, b: Long) = (b - a) / 1e9
    val children = spans.zipWithIndex.map { case (s, i) =>
      spans.drop(i + 1).takeWhile(_.depth > s.depth).filter(_.depth == s.depth + 1)
    }
    spans.zip(children).groupBy(_._1.name).map { case (name, group) =>
      val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      group.foreach { case (s, kids) =>
        val acc = listener.get(s.key)
        m("wall_s") += secs(s.t0, s.t1)
        m("self_s") += secs(s.t0, s.t1) - kids.map(c => secs(c.t0, c.t1)).sum
        m("cpu_s") += secs(s.cpu0, s.cpu1)
        m("gc_s") += (s.gc1 - s.gc0) / 1e3
        m("task_s") += acc.taskMs / 1e3
        m("shuffle_write_mb") += acc.shuffleWriteBytes / 1048576.0
        m("spill_mb") += acc.spillBytes / 1048576.0
        m("jobs") += acc.jobs
        m("codegen_classes") += (s.cg1 - s.cg0)
        s.extra.foreach { case (k, v) => m(k) += v }
      }
      name -> m.toMap
    }
  }
}
