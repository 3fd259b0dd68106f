package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: `Main <workload> <seed> <seconds> <trace 0|1> <work dir>`.
  * Prints `PERFBENCH_RESULT {json}` as its last line; run.py turns that
  * into the benchmark's result line.
  */
object Main {

  /** `startNs` is the main entry: set-up time runs from there. */
  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, startNs: Long) {
    val cores: Int = Runtime.getRuntime.availableProcessors()
    def inputs: Path = work.resolve("inputs")
    def run: Path = work.resolve("run").resolve(workload)
  }

  /** Everything a workload reports: operation counts plus metrics as
    * (value, unit). `correct` means every output check passed.
    */
  final class Report {
    var attempted = 0L
    var failed = 0L
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    val notes = scala.collection.mutable.ArrayBuffer.empty[String]
    def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
    def check(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; notes += what }
    }
  }

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Progress line on stderr, stamped with JVM uptime. */
  def log(what: String): Unit =
    System.err.println(f"[${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2f s] $what")

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, seconds(t0))
  }

  /** Linear-interpolated quantile (q in [0, 1]); NaN on empty input. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Quantile of values that each occur `weight` times: the smallest
    * value at or below which a share `q` of the weight lies.
    */
  def weightedQuantile(xs: Seq[(Double, Long)], q: Double): Double = {
    val sorted = xs.sortBy(_._1)
    val total = sorted.map(_._2).sum
    var acc = 0L
    sorted.find { case (_, n) => acc += n; acc >= q * total }.map(_._1).getOrElse(Double.NaN)
  }

  /** Runs `tasks` on `threads` threads; results in task order. */
  def parallel[T](threads: Int)(tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(() => t())).map(_.get())
    finally pool.shutdown()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally st.close()
    }

  def fresh(p: Path): Path = { deleteTree(p); Files.createDirectories(p) }

  def jvmMetrics(r: Report): Unit = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    // the old generation's peak: what stays live, not eden churn
    val peak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getName.contains("Old"))
      .map(_.getPeakUsage.getUsed).sum
    r.put("jvm.gc_s", gcMs / 1e3, "s")
    r.put("jvm.heap_peak_mb", peak / 1e6, "MB")
  }

  private def json(r: Report): String = {
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    def str(s: String): String = com.fasterxml.jackson.databind.node.TextNode.valueOf(s).toString
    val ms = r.metrics.map { case (k, (v, u)) =>
      s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }.mkString(",")
    val notes = r.notes.take(20).map(str).mkString(",")
    s"""{"attempted":${r.attempted},"failed":${r.failed},"metrics":{$ms},"notes":[$notes]}"""
  }

  def main(args: Array[String]): Unit = {
    val startNs = System.nanoTime()
    val Array(workload, seed, secs, trace, work) = args
    val o = Opts(workload, seed.toLong, secs.toInt, trace == "1",
      Paths.get(work).toAbsolutePath, startNs)
    Files.createDirectories(o.run)
    val r = new Report
    Tracer.enabled = false
    workload match {
      case "backfill" => Backfill.run(o, r)
      case "tail" => Tail.run(o, r)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (o.trace) {
      jvmMetrics(r)
      r.put("trace.spans", Tracer.all.length.toDouble, "count")
      Tracer.write(o.run.resolve("spans.jsonl"))
      val self = Tracer.selfSeconds.toSeq.sortBy(_._1)
        .map { case (k, v) => f"$k=$v%.3f" }.mkString(" ")
      System.err.println(s"span self seconds: $self")
    }
    println("PERFBENCH_RESULT " + json(r))
    SparkSession.getActiveSession.foreach(_.stop())
    log("stopped")
  }
}
