package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** Traced-run instrumentation, read from outside the engine through
  * Spark's public listener API plus the benchmark's own spans. Nothing
  * here is attached in an untraced run. Streaming progress is read from
  * each query's `recentProgress` after it ran, so it needs no listener.
  */
final class Probe extends SparkListener {
  @volatile private var attached = false
  def tracing: Boolean = attached

  /** Attach (or detach) the listener and turn spans on (or off). */
  def trace(spark: SparkSession, on: Boolean): Unit = if (on != attached) {
    attached = on
    Tracer.enabled = on
    if (on) spark.sparkContext.addSparkListener(this)
    else spark.sparkContext.removeSparkListener(this)
  }

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  /** (start ms, end ms) of every finished job. */
  val jobs = ArrayBuffer.empty[(Long, Long)]
  @volatile var tasks = 0L
  @volatile var taskCpuNs = 0L
  @volatile var taskGcMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.put(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { s =>
      // a job that started before the listener was attached is skipped
      synchronized { jobs += ((s.longValue, e.time)) }
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.taskMetrics != null) {
      taskCpuNs += e.taskMetrics.executorCpuTime
      taskGcMs += e.taskMetrics.jvmGCTime
    }
  }

  import Probe.Mark
  def mark(): Mark = synchronized { Mark(jobs.length, tasks, taskCpuNs, taskGcMs) }

  def jobsBetween(a: Mark, b: Mark): Seq[(Long, Long)] =
    synchronized { jobs.slice(a.jobs, b.jobs).toVector }
}

object Probe {
  /** Counters at one instant, to difference over a phase. */
  final case class Mark(jobs: Int, tasks: Long, cpuNs: Long, gcMs: Long)

  /** Length of the union of [start, end) intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { total += e - math.max(s, end); end = e }
    }
    total
  }
}

/** In-memory spans: name, start, end, parent span and operation id.
  * Written out as JSON lines when the run ends.
  */
object Tracer {
  final case class Span(id: Int, parent: Int, name: String, op: Long,
      startNs: Long, endNs: Long)
  @volatile var enabled = false
  private val spans = ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  def span[T](name: String, op: Long = 0L)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.get().headOption.getOrElse(0)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        spans.synchronized { spans += Span(id, parent, name, op, t0, t1) }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toVector)

  /** Self seconds per span name: duration minus the part of the
    * interval its direct children cover.
    */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val covered = Probe.covered(children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)))
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
