package perfbench

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** `tail`: an open-loop writer appends to the four current-hour files
  * while the pump runs back-to-back micro-batches over a 7-day archive
  * of 672 retained files. Per-trigger work carries the cost: listing
  * and admission over every retained file, the O(live files) offset
  * written each batch, planning and the sink's job fan-out.
  */
object Tail {
  val Dirs = 4
  val ArchiveHours: Int = 7 * 24
  val ArchivePerFile = 2
  /** Records/s, over all four files. */
  val Rate = 500
  /** The writer's first seconds warm the live path: its batches keep
    * getting faster for about ten seconds after the archive ingest, as
    * the JIT compiles the per-batch code. Their records are checked, not
    * timed; the timed records follow for `--seconds`.
    */
  val WarmSeconds = 8
  /** The writer moves to the next hour's files on its own schedule. */
  val RotateSeconds = 4
  /** ConnectIDs of appended records start here; archive ids stay below. */
  val LiveBase = 400000000L
  /** The reference's envelope: 20 s batch interval plus the 2 s flush. */
  val LimitNs: Long = 22L * 1000000000L

  /** Writes the archive (cached per seed); returns its dir and expectation. */
  def inputs(o: Main.Opts): (Path, Expect) = {
    val dir = o.inputs.resolve(s"tail-${o.seed}")
    val expectFile = dir.resolve("expect.json")
    if (!Files.exists(expectFile)) {
      if (Files.exists(o.inputs)) Files.list(o.inputs).iterator().asScala
        .filter(_.getFileName.toString.startsWith("tail-")).foreach(Main.deleteTree)
      val base = TechLogGen.baseHour(o.seed)
      val files = for (d <- 0 until Dirs; h <- 0 until ArchiveHours) yield () => {
        val hour = base.minusHours(ArchiveHours - h)
        val key = d * 1000L + h
        val recs = TechLogGen.fileRecords(o.seed, key, hour, ArchivePerFile, key * 100000L).toVector
        val p = dir.resolve("archive").resolve(s"rphost_${d + 1}").resolve(TechLogGen.fileName(hour))
        Files.createDirectories(p.getParent)
        val bytes = TechLogGen.render(recs.iterator)
        Files.write(p, bytes)
        TechLogGen.age(p)
        Expect.of(recs, bytes.length, base.toLocalDate.toString)
      }
      val exp = Main.parallel(o.cores)(files).reduce(_ merge _)
      Expect.save(exp, expectFile)
    }
    (dir.resolve("archive"), Expect.load(expectFile))
  }

  /** Open-loop writer: record i is due at start + i / Rate, whether or
    * not the pump keeps up; lateness is how far behind schedule the
    * writer itself ran.
    */
  final class Writer(seed: Long, logs: Path, n: Int) extends Thread("perfbench-writer") {
    setDaemon(true)
    val dueNs = new Array[Long](n)
    val lateNs = new Array[Long](n)
    val records = new Array[TechLogGen.Record](n)
    @volatile var startNs = 0L
    private val perFile = Rate * RotateSeconds / Dirs
    private val base = TechLogGen.baseHour(seed)
    private val out = new Array[FileOutputStream](Dirs)
    private val outHour = Array.fill(Dirs)(-1)

    override def run(): Unit = {
      startNs = System.nanoTime()
      try {
        var i = 0
        while (i < n) {
          val due = startNs + i * 1000000000L / Rate
          var now = System.nanoTime()
          while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
          dueNs(i) = due
          lateNs(i) = now - due
          val d = i % Dirs
          val h = i / (Rate * RotateSeconds)
          val hour = base.plusHours(h)
          if (outHour(d) != h) {
            if (out(d) != null) out(d).close()
            val p = logs.resolve(s"rphost_${d + 1}").resolve(TechLogGen.fileName(hour))
            out(d) = new FileOutputStream(p.toFile, true)
            out(d).write("\uFEFF".getBytes(UTF_8))
            outHour(d) = h
          }
          val inFile = (i % (Rate * RotateSeconds)) / Dirs
          val rec = TechLogGen.record(seed, 100000L + h * 10 + d, i, hour,
            inFile * (3600L * 1000000L / perFile), LiveBase + i)
          records(i) = rec
          out(d).write((rec.text + "\n").getBytes(UTF_8))
          i += 1
        }
      } finally out.foreach(s => if (s != null) s.close())
    }
  }

  /** Committed byte size per file from the query's last progress. */
  private def committed(q: org.apache.spark.sql.streaming.StreamingQuery): Map[String, Long] =
    Option(q.lastProgress).flatMap(p => p.sources.headOption).flatMap(s => Option(s.endOffset))
      .map(j => graft.sources.TechLogOffset.parse(j, Map.empty).files).getOrElse(Map.empty)

  def run(o: Main.Opts, r: Main.Report): Unit = {
    val ((archive, archiveExp), inputsS) = Main.timed(inputs(o))
    Main.log("inputs ready")
    val (spark, sessionS) = Main.timed(Main.session(o))
    val logs = Main.fresh(o.run.resolve("logs"))
    Pump.logFiles(archive).foreach { p =>
      val link = logs.resolve(archive.relativize(p))
      Files.createDirectories(link.getParent)
      Files.createLink(link, p)
    }
    val cfg = Pump.config(o, logs)
    val out = o.run.resolve("sink")
    val ckpt = o.run.resolve("ckpt")
    // one batch, no file cap: three repetitions would not fit the run
    Main.fresh(out)
    Main.deleteTree(ckpt)
    val (_, ingestS) = Main.timed {
      val q = Pump.start(spark, cfg, out, ckpt, Trigger.AvailableNow(), None)
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    }
    // set-up runs from the main entry to the start of the live query;
    // the seed-keyed archive is cached on disk and left out
    r.put("setup_s", Main.seconds(o.startNs) - inputsS, "s")
    Main.log(f"set-up done, session $sessionS%.2f s, archive ingest $ingestS%.2f s")

    val probe = new Probe
    val mark0 = probe.mark()
    val nWarm = Rate * WarmSeconds
    val n = nWarm + Rate * o.seconds
    val writer = new Writer(o.seed, logs, n)
    val warmNs = WarmSeconds * 1000000000L
    def warm(ns: Long) = writer.startNs == 0L || ns < writer.startNs + warmNs
    val commitNs = new ConcurrentHashMap[Long, Long]()
    // a traced run switches tracing at batch boundaries after the warm-up:
    // every other batch runs traced, so each batch is wholly one or the other
    val tracedBatch = new ConcurrentHashMap[Long, Boolean]()
    val q = Pump.start(spark, cfg, out, ckpt, Trigger.ProcessingTime(0L),
      Some(Backfill.MaxFilesPerTrigger), { id =>
        val now = System.nanoTime()
        commitNs.put(id, now)
        if (o.trace && !warm(now)) {
          val next = !probe.tracing
          probe.trace(spark, next)
          tracedBatch.put(id + 1, next)
        }
      })
    Thread.sleep(1000) // the query's first listing, before load starts
    writer.start()
    writer.join()
    // grace: every appended byte committed, bounded by the envelope
    val liveFiles = Pump.logFiles(logs).filterNot(p => Files.exists(archive.resolve(logs.relativize(p))))
    val graceEnd = System.nanoTime() + LimitNs
    def landed = {
      val c = committed(q)
      liveFiles.forall(p => c.get(p.toString).contains(Files.size(p)))
    }
    while (!landed && System.nanoTime() < graceEnd && q.isActive) Thread.sleep(50)
    Main.log("writer done, all landed: " + landed)
    q.stop()
    q.exception.foreach(e => throw e)
    if (o.trace) probe.trace(spark, on = true)

    // archive rows come back as one row with batch_id -1 and their count
    val sink = Pump.readSink(spark, out)
    val rows = sink.filter(col("ConnectionID") >= LiveBase)
      .select(col("ConnectionID") - LiveBase, col("batch_id"))
      .union(sink.filter(col("ConnectionID") < LiveBase).agg(count(lit(1)), lit(-1)))
      .collect().map(x => x.getLong(0) -> x.getInt(1))
    val archiveGot = rows.collectFirst { case (n, -1) => n }.getOrElse(0L)
    r.check(archiveGot == archiveExp.rows, s"archive rows $archiveGot != ${archiveExp.rows}")
    val got = rows.filter(_._2 >= 0).map { case (i, b) => i.toInt -> b }
    val batches = Array.fill(n)(List.empty[Int])
    got.foreach { case (i, b) => batches(i) = b :: batches(i) }
    val latencies = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    for (i <- 0 until n if writer.records(i).row.isDefined) {
      batches(i) match {
        case List(b) =>
          val lat = commitNs.get(b.toLong) - writer.dueNs(i)
          r.check(lat <= LimitNs, s"record $i landed after ${lat / 1e9} s")
          latencies += ((i, lat / 1e9))
        case bs => r.check(ok = false, s"record $i landed ${bs.length} times")
      }
    }
    Main.log("checked")
    // p99 is taken per quarter of the timed records, so one slow batch
    // moves one quarter's p99, not the reported median
    val quarters = latencies.filter(_._1 >= nWarm).groupBy { case (i, _) => (i - nWarm) * 4 / (n - nWarm) }
      .values.map(_.map(_._2).toSeq).toSeq
    r.put("latency_p50_s", Main.median(quarters.flatten), "s")
    r.put("latency_p99_s", Main.median(quarters.map(Main.quantile(_, 0.99))), "s")
    System.err.println(f"tail: appended=$n landed=${got.length} " +
      f"ingest=$ingestS%.2f batches=${commitNs.size} " +
      f"p50=${Main.median(latencies.map(_._2).toSeq)}%.3f p99=${Main.quantile(latencies.map(_._2).toSeq, 0.99)}%.3f " +
      f"late_p99_ms=${Main.quantile(writer.lateNs.map(_ / 1e6).toSeq, 0.99)}%.2f " +
      "batch commits (s after writer start, rows): " + commitNs.asScala.toSeq.sorted.map { case (b, c) =>
        f"${(c - writer.startNs) / 1e9}%.2f:${got.count(_._2 == b)}" }.mkString(" "))

    if (o.trace) {
      r.put("setup.session_s", sessionS, "s")
      r.put("setup.archive_ingest_s", ingestS, "s")
      // overhead: batch time (previous commit to this commit) of traced
      // batches against untraced ones, all begun after the warm-up and
      // while the writer still appends, so the drain-out batches at the
      // end, which carry almost no records, are left out
      val commits = commitNs.asScala.toMap
      val loadEnd = writer.startNs + (WarmSeconds + o.seconds) * 1000000000L
      val timed = commits.keys.toSeq.sorted
        .filter(b => tracedBatch.containsKey(b) && commits.get(b - 1).exists(_ < loadEnd))
        .map(b => (tracedBatch.get(b), (commits(b) - commits(b - 1)) / 1e9))
      def batchS(t: Boolean) = Main.median(timed.filter(_._1 == t).map(_._2))
      r.put("trace.overhead_pct", (batchS(true) / batchS(false) - 1) * 100, "%")
      System.err.println("tail batches after warm-up (traced: s): " +
        timed.map { case (t, d) => f"$t:$d%.2f" }.mkString(" "))
      Pump.progressMetrics(q.recentProgress.toSeq
        .filter(p => commits.get(p.batchId).exists(c => !warm(c))), r)
      r.put("sources.offset_bytes", Pump.offsetBytes(ckpt), "bytes")
      Pump.sinkSpanMetrics(probe, mark0, r)
      r.put("streaming.generator_late_p99_ms",
        Main.quantile(writer.lateNs.map(_ / 1e6).toSeq, 0.99), "ms")
      // backlog when each batch committed: records due by then, less
      // records landed in that batch or earlier
      val landedBy = got.groupBy(_._2).map { case (b, xs) => b -> xs.length }
      var cum = 0L
      val backlog = commitNs.asScala.toSeq.sortBy(_._1).map { case (b, c) =>
        cum += landedBy.getOrElse(b.toInt, 0)
        val due = math.min(n.toLong, math.max(0L, (c - writer.startNs) * Rate / 1000000000L + 1))
        (due - cum).toDouble
      }
      r.put("streaming.backlog_records_max", if (backlog.isEmpty) 0.0 else backlog.max, "count")
      val exp = archiveExp.merge(Expect.of(writer.records.toSeq, 0L, archiveExp.readDate))
      Pump.readback(spark, out, exp, r, probe).report(probe, r)
      Pump.layerProbes(spark, cfg, logs, probe, r, o.run)
    }
  }
}
