package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import graft.sinks.NotionSink.NotionApi

/** Spans recorded around the benchmark's calls into the program's layers.
  * While inactive, a span runs its body and records nothing. */
final class Tracer(spark: Probe) {
  import Tracer.Span
  var active = false

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List(0)
  private var nextId = 1

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.head
      stack = id :: stack
      val before = spark.sample()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val after = spark.sample()
        stack = stack.tail
        spans += Span(id, parent, name, t0, t1,
          after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) })
      }
    }

  /** Seconds spent in spans named `name` since span id `from`. */
  def seconds(name: String, from: Int = 0): Double =
    spans.iterator.filter(s => s.id >= from && s.name == name)
      .map(s => (s.endNs - s.startNs) / 1e9).sum

  def delta(name: String, key: String, from: Int = 0): Double =
    spans.iterator.filter(s => s.id >= from && s.name == name)
      .map(_.deltas.getOrElse(key, 0.0)).sum

  def mark: Int = nextId

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.id).map { s =>
      val d = s.deltas.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},$d}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long,
      endNs: Long, deltas: Map[String, Double])
}

/** Whole-program counters sampled at span boundaries: CPU, GC and JIT time,
  * Spark jobs, task time and shuffle bytes, and the stub's busy time. */
final class Probe(stubBusy: () => Double) extends SparkListener {
  private val jobs = new AtomicLong()
  private val taskNs = new AtomicLong()
  private val shuffleBytes = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      taskNs.addAndGet(m.executorRunTime * 1000000L)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  def sample(): Map[String, Double] = Map(
    "jvm.cpu_s" -> Probe.cpuSeconds(),
    "jvm.gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3,
    "jvm.jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
    "spark.jobs" -> jobs.get.toDouble,
    "spark.task_s" -> taskNs.get / 1e9,
    "spark.shuffle_mb" -> shuffleBytes.get / 1e6,
    "stub.busy_s" -> stubBusy())
}

object Probe {
  val Units: Map[String, String] = Map("jvm.cpu_s" -> "s", "jvm.gc_s" -> "s", "jvm.jit_s" -> "s",
    "spark.jobs" -> "count", "spark.task_s" -> "s", "spark.shuffle_mb" -> "MB",
    "stub.busy_s" -> "s")
  val Keys: Seq[String] = Units.keys.toSeq.sorted

  /** CPU seconds this JVM has used, all threads. */
  def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
}

/** Per-request latencies of the Notion transport, shared by every task's
  * deserialized copy of [[TimedNotionApi]] in this JVM. */
object NotionTimings {
  val nanos = new ConcurrentLinkedQueue[java.lang.Long]()
  val readbackNanos = new AtomicLong()
  def reset(): Unit = { nanos.clear(); readbackNanos.set(0) }
  def quantileMs(q: Double): Double = {
    val a = nanos.asScala.map(_.longValue).toArray.sorted
    if (a.isEmpty) 0.0 else a(math.min(a.length - 1, (q * a.length).toInt)) / 1e6
  }
}

/** Timing decorator around a [[NotionApi]]: each call's latency lands in
  * [[NotionTimings]]. */
final class TimedNotionApi(inner: NotionApi) extends NotionApi {
  private def timed[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally NotionTimings.nanos.add(System.nanoTime() - t0)
  }
  override def ensureParentPage(existing: Option[String], title: String): String =
    timed(inner.ensureParentPage(existing, title))
  override def createDatabase(name: String, properties: Map[String, String]): String =
    timed(inner.createDatabase(name, properties))
  override def existingRecords(): Map[Long, String] = {
    val t0 = System.nanoTime()
    try inner.existingRecords()
    finally NotionTimings.readbackNanos.addAndGet(System.nanoTime() - t0)
  }
  override def insert(key: Long, properties: Map[String, String]): Unit =
    timed(inner.insert(key, properties))
  override def update(pageId: String, properties: Map[String, String]): Unit =
    timed(inner.update(pageId, properties))
  override def softDelete(pageId: String): Unit = timed(inner.softDelete(pageId))
}
