package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.config.PumpConfig
import graft.etl.Transform
import graft.pipeline.LogPump

/** The pump composition both pump workloads drive:
  * `readStream.format("techlog")` → `etl.Transform` →
  * `LogPump.writeRoutedExactlyOnce`, routed by a config.yaml that
  * `PumpConfig.load` reads. This is the connector path, not
  * `PumpMain.startAll`, whose file source loses appended bytes.
  */
object Pump {

  /** Writes a config.yaml for one log directory and loads it back. */
  def config(o: Main.Opts, logDir: Path): PumpConfig = {
    val tables = TechLogGen.TableMap.toSeq.sorted
      .map { case (c, t) => s"    $c: $t" }.mkString("\n")
    val yaml =
      s"""LogDirectoryMap:
         |  ${o.workload}: $logDir
         |FilePattern: "*.log"
         |BatchSize: 500
         |BatchInterval: 20
         |RescanInterval: 60
         |ClickHouse:
         |  Address: localhost:9000
         |  Database: techlog
         |  DefaultTable: ${TechLogGen.DefaultTable}
         |  TableMap:
         |$tables
         |""".stripMargin
    val path = o.run.resolve("config.yaml")
    Files.write(path, yaml.getBytes(UTF_8))
    PumpConfig.load(path.toString).fold(e => throw new IllegalStateException(e), identity)
  }

  /** Start the pump over `cfg`'s one directory. `onCommit(batchId)` runs
    * on the driver right after the sink call for that batch returns.
    */
  def start(spark: SparkSession, cfg: PumpConfig, out: Path, ckpt: Path,
      trigger: Trigger, maxFilesPerTrigger: Option[Int],
      onCommit: Long => Unit = _ => ()): StreamingQuery = {
    val dir = cfg.LogDirectoryMap.values.head
    val src = spark.readStream.format("techlog")
      .option("pathGlobFilter", cfg.FilePattern)
    val source = maxFilesPerTrigger.fold(src)(n => src.option("maxFilesPerTrigger", n.toLong))
    Transform(source.load(dir))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Tracer.span("pipeline.sink", batchId) {
          LogPump.writeRoutedExactlyOnce(batch, cfg.ClickHouse.TableMap,
            cfg.ClickHouse.DefaultTable, out.toString, batchId)
        }
        onCommit(batchId)
      }
      .start()
  }

  /** Spark's side of [[TechLogGen.Row.hash]]. */
  val rowHash: Column = xxhash64(concat_ws(TechLogGen.Sep,
    col("EventDate").cast("string"), unix_micros(col("EventTime")).cast("string"),
    col("EventType"), col("Duration").cast("string"), col("User"),
    col("InfoBase"), col("SessionID").cast("string"),
    col("ClientID").cast("string"), col("ConnectionID").cast("string"),
    col("SQLText"), col("Rows").cast("string"), col("RowsAffected").cast("string"),
    col("Context"), col("ProcessName")))

  def tableDirs(out: Path): Seq[String] =
    TechLogGen.Tables.filter(t => Files.isDirectory(out.resolve(t)))

  /** Union of every routed table of a sink, with a `__table` column. */
  def readSink(spark: SparkSession, out: Path): DataFrame =
    tableDirs(out).map { t =>
      spark.read.parquet(out.resolve(t).toString).withColumn("__table", lit(t))
    }.reduce(_ unionByName _)

  /** (sink k, table, batch_id) → (rows, xor of row hashes) over sinks
    * numbered from 1, in one query: an order-insensitive checksum (rows
    * are distinct: ConnectionID is unique per data set).
    */
  def sinkBatches(spark: SparkSession, outs: Seq[Path]): Map[(Int, String, Int), (Long, Long)] =
    outs.zipWithIndex.map { case (out, k) => readSink(spark, out).withColumn("__sink", lit(k + 1)) }
      .reduce(_ unionByName _)
      .withColumn("hash", rowHash).groupBy("__sink", "__table", "batch_id")
      .agg(count(lit(1)).as("n"), expr("bit_xor(hash)").as("x"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2)) -> (r.getLong(3), r.getLong(4))).toMap

  /** [[sinkBatches]] folded per table, comparable with [[Expect.tables]]. */
  def byTable(batches: Map[(String, Int), (Long, Long)]): Map[String, (Long, Long)] =
    batches.groupBy(_._1._1).map { case (t, bs) =>
      t -> (bs.values.map(_._1).sum, bs.values.map(_._2).foldLeft(0L)(_ ^ _)) }

  /** The operator queries run beside the writes: a count by EventType
    * for one (partition-pruned) EventDate, the top Durations per
    * InfoBase, and every row of one SessionID. Each comes with the check
    * of its collected result against the generator's expectation.
    */
  def readbackQueries(spark: SparkSession, out: Path,
      e: Expect): Seq[(String, DataFrame, DataFrame => Boolean)] = {
    val all = readSink(spark, out)
    val byType = all.filter(col("EventDate") === lit(e.readDate).cast("date"))
      .groupBy("EventType").count()
    val top = all.select("InfoBase", "Duration")
      .withColumn("rn", row_number().over(
        Window.partitionBy("InfoBase").orderBy(col("Duration").desc)))
      .filter(col("rn") <= Expect.TopN).select("InfoBase", "Duration")
    val session = all.filter(col("SessionID") === (TechLogGen.TargetSession & 0xFFFFFFFFL))
      .select(rowHash.as("hash"))
    Seq(
      ("count_by_type", byType, (df: DataFrame) =>
        df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == e.dateCounts),
      ("top_duration", top, (df: DataFrame) =>
        df.collect().groupBy(_.getString(0)).map { case (ib, rs) =>
          ib -> rs.map(_.getLong(1)).toSeq.sorted(Ordering[Long].reverse) } == e.topDurations),
      ("session_rows", session, (df: DataFrame) => {
        val hs = df.collect().map(_.getLong(0))
        (hs.length.toLong, hs.foldLeft(0L)(_ ^ _)) == e.session
      }))
  }

  /** One untimed warm-up pass, then three timed readback passes; every
    * query result is checked. Returns the time, planner phase times and
    * listener marks of each timed pass.
    */
  def readback(spark: SparkSession, out: Path, e: Expect, r: Main.Report,
      probe: Probe): Readback = {
    readbackQueries(spark, out, e).foreach { case (_, df, _) => df.collect() }
    val rb = Readback()
    for (_ <- 1 to 3) {
      val m = probe.mark()
      val qs = readbackQueries(spark, out, e)
      val (oks, s) = Main.timed {
        qs.map { case (name, df, ok) => Tracer.span(s"readback.$name")(ok(df)) }
      }
      qs.zip(oks).foreach { case ((name, _, _), ok) => r.check(ok, s"readback $name mismatch") }
      rb.times += s
      rb.marks += ((m, probe.mark(), s))
      rb.phases += qs.flatMap(_._2.queryExecution.tracker.phases.toSeq)
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2.durationMs.toDouble).sum }
    }
    rb
  }

  final case class Readback(
      times: ArrayBuffer[Double] = ArrayBuffer.empty,
      marks: ArrayBuffer[(Probe.Mark, Probe.Mark, Double)] = ArrayBuffer.empty,
      phases: ArrayBuffer[Map[String, Double]] = ArrayBuffer.empty) {
    /** Planner phases, jobs, tasks, job-busy seconds, the driver's gap
      * (pass wall time less the union of job intervals) and pass time,
      * medians over passes.
      */
    def report(probe: Probe, r: Main.Report): Unit = {
      def phase(k: String) = Main.median(phases.map(_.getOrElse(k, 0.0)).toSeq)
      r.put("ops.analysis_ms", phase("analysis"), "ms")
      r.put("ops.optimization_ms", phase("optimization"), "ms")
      r.put("ops.planning_ms", phase("planning"), "ms")
      val per = marks.toSeq.map { case (a, b, wall) =>
        val js = probe.jobsBetween(a, b)
        val busy = Probe.covered(js) / 1e3
        (js.length.toDouble, (b.tasks - a.tasks).toDouble, busy, wall - busy)
      }
      r.put("ops.jobs", Main.median(per.map(_._1)), "count")
      r.put("ops.tasks", Main.median(per.map(_._2)), "count")
      r.put("ops.job_busy_s", Main.median(per.map(_._3)), "s")
      r.put("ops.driver_gap_s", Main.median(per.map(_._4)), "s")
      r.put("ops.read_pass_s", Main.median(times.toSeq), "s")
    }
  }

  def logFiles(dir: Path): Seq[Path] = {
    val st = Files.walk(dir)
    try st.iterator().asScala.filter(p => p.toString.endsWith(".log")).toVector.sorted
    finally st.close()
  }

  def treeBytes(dir: Path, suffix: String): (Long, Long) = {
    if (!Files.exists(dir)) return (0L, 0L)
    val st = Files.walk(dir)
    try {
      val fs = st.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(suffix)).toVector
      (fs.length.toLong, fs.map(Files.size).sum)
    } finally st.close()
  }

  /** Layer-by-layer replay of the pump over `dir`, each layer timed on
    * its own through its public entry point. Reports ingest, parse,
    * sources, etl and pipeline metrics; returns (scan, transform, sink)
    * seconds.
    */
  def layerProbes(spark: SparkSession, cfg: PumpConfig, dir: Path,
      probe: Probe, r: Main.Report, scratch: Path): (Double, Double, Double) = {
    val files = logFiles(dir)
    val lines = files.map { p =>
      val text = new String(Files.readAllBytes(p), UTF_8)
      val ls = text.split("\n", -1)
      (p.getFileName.toString,
        (if (ls.nonEmpty && ls.last.isEmpty) ls.init else ls).map(_.stripSuffix("\r")))
    }
    val (records, splitS) = Main.timed {
      Tracer.span("ingest.split") {
        lines.flatMap { case (name, ls) =>
          graft.ingest.RecordAssembler.splitRecords(ls.iterator).map(name -> _)
        }
      }
    }
    r.put("ingest.split_s", splitS, "s")
    r.put("ingest.records", records.length.toDouble, "count")
    val (_, parseS) = Main.timed {
      Tracer.span("parse.parse") {
        var n = 0L
        records.foreach { case (_, ls) =>
          if (graft.parse.TechLogParser.parseLine(ls).Severity >= 0) n += 1 }
        n
      }
    }
    r.put("parse.parse_s", parseS, "s")
    r.put("parse.us_per_record", parseS * 1e6 / math.max(records.length, 1), "us")

    val read = spark.read.format("techlog").option("pathGlobFilter", cfg.FilePattern)
    val m0 = probe.mark()
    val (_, scanS) = Main.timed {
      Tracer.span("sources.scan") {
        read.load(dir.toString).write.format("noop").mode("overwrite").save()
      }
    }
    val m1 = probe.mark()
    r.put("sources.scan_s", scanS, "s")
    r.put("sources.task_cpu_s", (m1.cpuNs - m0.cpuNs) / 1e9, "s")
    r.put("sources.gc_s", (m1.gcMs - m0.gcMs) / 1e3, "s")

    val entries = read.load(dir.toString).cache()
    entries.count()
    val (_, transformS) = Main.timed {
      Tracer.span("etl.transform") {
        Transform(entries).write.format("noop").mode("overwrite").save()
      }
    }
    r.put("etl.transform_s", transformS, "s")
    val dropped = Transform.withReason(entries).filter(col("drop_reason") =!= "ok").count()
    r.put("etl.dropped_records", dropped.toDouble, "count")

    val rows = Transform(entries).cache()
    rows.count()
    val out = Main.fresh(scratch.resolve("probe-sink"))
    val (_, sinkS) = Main.timed {
      Tracer.span("pipeline.sink_replay") {
        LogPump.writeRoutedExactlyOnce(rows, cfg.ClickHouse.TableMap,
          cfg.ClickHouse.DefaultTable, out.toString, 0L)
      }
    }
    rows.unpersist()
    entries.unpersist()
    val (nFiles, sinkBytes) = treeBytes(out, ".parquet")
    val logBytes = files.map(Files.size).sum
    r.put("pipeline.sink_s", sinkS, "s")
    r.put("pipeline.files_written", nFiles.toDouble, "count")
    r.put("pipeline.bytes_per_log_byte", sinkBytes.toDouble / math.max(logBytes, 1L), "ratio")
    (scanS, transformS, sinkS)
  }

  /** Streaming-progress metrics of `ps` (one pump query's batches). */
  def progressMetrics(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      r: Main.Report): Unit = {
    val withData = ps.filter(_.numInputRows > 0)
    def dur(k: String): Seq[Double] =
      withData.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
    r.put("sources.latest_offset_ms_p50", Main.median(dur("latestOffset")), "ms")
    r.put("sources.latest_offset_ms_p99", Main.quantile(dur("latestOffset"), 0.99), "ms")
    r.put("streaming.trigger_ms_p50", Main.median(dur("triggerExecution")), "ms")
    r.put("streaming.trigger_ms_p99", Main.quantile(dur("triggerExecution"), 0.99), "ms")
    r.put("streaming.planning_ms_p50", Main.median(dur("queryPlanning")), "ms")
    r.put("streaming.commit_ms_p50", Main.median(
      dur("walCommit").zip(dur("commitOffsets")).map { case (a, b) => a + b }), "ms")
    r.put("streaming.batches", withData.length.toDouble, "count")
    r.put("streaming.records_per_batch_p50",
      Main.median(withData.map(_.numInputRows.toDouble)), "count")
  }

  /** Mean size of the checkpoint's offset-log files. */
  def offsetBytes(ckpt: Path): Double = {
    val (n, b) = treeBytes(ckpt.resolve("offsets"), "")
    if (n == 0) 0.0 else b.toDouble / n
  }

  /** Sink-call spans: jobs started inside them, and their durations. */
  def sinkSpanMetrics(probe: Probe, since: Probe.Mark, r: Main.Report): Unit = {
    val spans = Tracer.all.filter(_.name == "pipeline.sink")
    val ms = spans.map(s => (s.endNs - s.startNs) / 1e6)
    // listener times are wall-clock ms; span times are nanoTime
    val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1000000L
    val jobs = probe.jobsBetween(since, probe.mark())
    val inSpans = jobs.count { case (start, _) =>
      spans.exists(s => start >= s.startNs / 1000000L + offsetMs - 1 &&
        start <= s.endNs / 1000000L + offsetMs + 1)
    }
    r.put("pipeline.jobs_per_batch", inSpans.toDouble / math.max(spans.length, 1), "count")
    r.put("pipeline.sink_ms_p50", Main.median(ms), "ms")
    r.put("pipeline.sink_ms_p99", Main.quantile(ms, 0.99), "ms")
  }
}
