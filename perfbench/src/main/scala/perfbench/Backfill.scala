package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.config.PumpConfig

/** `backfill`: drain a seed-generated backlog of hourly files with
  * `Trigger.AvailableNow`. The drain is one batch whose cost is the
  * per-record layers (read, assemble, parse, transform, parquet encode)
  * plus the sink's per-table jobs. A traced run also runs operator
  * queries over the sink.
  */
object Backfill {
  val Dirs = 4
  /** One day of hourly files, from noon to noon, so the readback's
    * EventDate filter prunes half of the sink.
    */
  val Hours = 24
  /** Records per hourly file, by process: skewed like real rphosts. */
  val PerFile: Array[Int] = Array(260, 195, 130, 65)
  val BadHourRecords = 100
  /** PumpMain's cap: the backlog's 97 files drain in one batch. */
  val MaxFilesPerTrigger = 100
  val TimedDrains = 3

  /** Writes the backlog under `dir` and returns its expectation. */
  def generate(seed: Long, dir: Path, cores: Int): Expect = {
    val base = TechLogGen.baseHour(seed)
    val readDate = base.plusHours(24).toLocalDate.toString
    def write(d: Int, key: Long, hour: LocalDateTime, name: String, n: Int,
        badHour: Boolean): Expect = {
      val recs = TechLogGen.fileRecords(seed, key, hour, n, key * 100000L).toVector
      val bytes = TechLogGen.render(recs.iterator)
      val p = dir.resolve(s"rphost_${d + 1}").resolve(name)
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
      TechLogGen.age(p)
      Expect.of(recs, bytes.length, readDate, badHour)
    }
    val files = for (d <- 0 until Dirs; h <- 0 until Hours) yield () => {
      val hour = base.plusHours(12 + h)
      write(d, d * 1000L + h, hour, TechLogGen.fileName(hour), PerFile(d), badHour = false)
    }
    // hour "99" is out of range: Transform drops the whole file as bad_hour
    val bad = () => write(0, 999L, base,
      TechLogGen.fileName(base).take(6) + "99.log", BadHourRecords, badHour = true)
    Main.parallel(cores)(files :+ bad).reduce(_ merge _)
  }

  /** Seed-keyed input cache: generation runs once per seed; other
    * seeds' backlogs are removed to bound disk use.
    */
  def inputs(o: Main.Opts): (Path, Expect) = {
    val dir = o.inputs.resolve(s"backfill-${o.seed}")
    val expectFile = dir.resolve("expect.json")
    if (!Files.exists(expectFile)) {
      if (Files.exists(o.inputs)) Files.list(o.inputs).iterator().asScala
        .filter(_.getFileName.toString.startsWith("backfill-")).foreach(Main.deleteTree)
      val logs = Files.createDirectories(dir.resolve("logs"))
      Expect.save(generate(o.seed, logs, o.cores), expectFile)
    }
    (dir.resolve("logs"), Expect.load(expectFile))
  }

  /** One drain into a fresh sink and checkpoint: seconds, seconds from
    * the drain's start to each batch's sink commit, and the query's
    * progress reports.
    */
  def drain(spark: SparkSession, cfg: PumpConfig, out: Path,
      ckpt: Path): (Double, Map[Int, Double], Seq[StreamingQueryProgress]) = {
    Main.fresh(out)
    Main.deleteTree(ckpt)
    val commits = new ConcurrentHashMap[Long, Long]()
    val t0 = System.nanoTime()
    val q = Tracer.span("backfill.drain") {
      val q = Pump.start(spark, cfg, out, ckpt, Trigger.AvailableNow(), Some(MaxFilesPerTrigger),
        id => commits.put(id, System.nanoTime()))
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      q
    }
    (Main.seconds(t0), commits.asScala.map { case (b, c) => b.toInt -> (c - t0) / 1e9 }.toMap,
      q.recentProgress.toSeq)
  }

  def run(o: Main.Opts, r: Main.Report): Unit = {
    val ((logs, exp), inputsS) = Main.timed(inputs(o))
    Main.log("inputs ready")
    val (spark, sessionS) = Main.timed(Main.session(o))
    val cfg = Pump.config(o, logs)
    def out(k: Int) = o.run.resolve(s"sink-$k")
    def ckpt(k: Int) = o.run.resolve(s"ckpt-$k")
    // one warm-up drain of the whole backlog pays class loading, codegen
    // and the JIT's first compiles
    val warmS = drain(spark, cfg, out(0), ckpt(0))._1
    // set-up runs from the main entry to the first timed drain; the
    // seed-keyed inputs are cached on disk and left out
    r.put("setup_s", Main.seconds(o.startNs) - inputsS, "s")
    Main.log(f"set-up done, session $sessionS%.2f s, warm-up $warmS%.2f s")

    val probe = new Probe
    def traceOn(on: Boolean): Unit = if (o.trace) probe.trace(spark, on)
    val untraced = ArrayBuffer.empty[Double]
    val traced = ArrayBuffer.empty[Double]
    val progress = ArrayBuffer.empty[StreamingQueryProgress]
    val commits = ArrayBuffer.empty[Map[Int, Double]]
    var mark0 = probe.mark()
    val drains = if (o.trace) 5 else TimedDrains
    for (k <- 1 to drains) {
      // a traced run lets its first drain settle the JIT (the first
      // drain after the warm-up is still the slowest, by about 25 %),
      // then alternates untraced and traced drains in ABBA order, so the
      // remaining warm-up trend cancels out of the overhead
      traceOn(k == 3 || k == 4)
      if (probe.tracing && traced.isEmpty) mark0 = probe.mark()
      val (s, cs, ps) = drain(spark, cfg, out(k), ckpt(k))
      if (probe.tracing) { traced += s; progress ++= ps }
      else if (!o.trace || k > 1) untraced += s
      commits += cs
    }
    Main.log("drains done")
    // every timed drain's sink must match the generator, checked in one
    // query after the drains; per-record latency: each landed row waits
    // from its drain's start to the commit of its batch
    val got = Pump.sinkBatches(spark, (1 to drains).map(out))
    val latency = (1 to drains).map { k =>
      val mine = got.filter(_._1._1 == k).map { case ((_, t, b), v) => (t, b) -> v }
      r.check(Pump.byTable(mine) == exp.tables, s"backfill drain $k sink ${Pump.byTable(mine)} != ${exp.tables}")
      val perBatch = mine.groupBy(_._1._2).toSeq.map { case (b, ts) =>
        (commits(k - 1)(b), ts.values.map(_._1).sum) }
      (Main.weightedQuantile(perBatch, 0.5), Main.weightedQuantile(perBatch, 0.99))
    }
    val medDrain = Main.median(if (o.trace) traced.toSeq else untraced.toSeq)
    // drop audit: every planted malformed record is dropped for its reason
    val reasons = graft.etl.Transform.withReason(
      spark.read.format("techlog").option("pathGlobFilter", cfg.FilePattern).load(logs.toString))
      .groupBy("drop_reason").count().collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    r.check(reasons - "ok" == exp.drops && reasons.getOrElse("ok", 0L) == exp.rows,
      s"drop reasons $reasons != ${exp.drops}")
    Main.log("checked")

    r.put("latency_p50_s", Main.median(latency.map(_._1)), "s")
    r.put("latency_p99_s", Main.median(latency.map(_._2)), "s")
    System.err.println(f"backfill: records=${exp.records} rows=${exp.rows} " +
      f"logMB=${exp.logBytes / 1e6}%.1f MB/s=${exp.logBytes / 1e6 / medDrain}%.1f " +
      f"warm=$warmS%.2f " + s"untraced=${untraced.map(x => f"$x%.2f")} traced=${traced.map(x => f"$x%.2f")}")

    if (o.trace) {
      traceOn(true)
      Pump.readback(spark, out(drains), exp, r, probe).report(probe, r)
      r.put("setup.session_s", sessionS, "s")
      r.put("setup.warmup_s", warmS, "s")
      r.put("trace.overhead_pct", (medDrain / Main.median(untraced.toSeq) - 1) * 100, "%")
      Pump.progressMetrics(progress.toSeq, r)
      r.put("sources.offset_bytes", Pump.offsetBytes(ckpt(drains)), "bytes")
      Pump.sinkSpanMetrics(probe, mark0, r)
      val (scan, transform, sink) = Pump.layerProbes(spark, cfg, logs, probe, r, o.run)
      r.put("backfill.unattributed_s", medDrain - (scan + transform + sink), "s")
      r.put("backfill.records_per_s", exp.records / medDrain, "1/s")
      r.put("backfill.mb_per_s", exp.logBytes / 1e6 / medDrain, "MB/s")
      traceOn(false)
    }
  }
}
