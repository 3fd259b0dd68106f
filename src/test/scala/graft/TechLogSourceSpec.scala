package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TechLogSourceSpec extends AnyFunSuite {

  private lazy val dir: String = {
    val d = graft.util.TmpDirs.scratch("techlog-src")
    Files.writeString(Paths.get(d, "25052607.log"),
      "00:03.310025-1327862,DBMSSQL,3,process=rphost,p:processName=srv," +
        "Usr=alice,Sql='SELECT 1 FROM t',Context='line one\nline two'\n" +
        "00:04.000001-5,CONN,2,process=rphost,Usr=bob\n")
    Files.writeString(Paths.get(d, "25052608.log"),
      "00:05.100000-77,EXCP,1,process=rphost,Usr=carol\n")
    d
  }

  test("techlog DSv2 source equals the RecordAssembler batch pipeline") {
    val s = TestSpark.spark
    val viaSource = s.read.format("techlog").load(dir)
    // the reference in plain Scala over the same bytes: line split,
    // record assembly, parse, and the filename Timestamp (tail.go:77)
    val files = Files.list(Paths.get(dir))
    val entries = try files.iterator().asScala.toSeq.flatMap { f =>
        val lines = Files.readString(f).split("\n").toSeq
        graft.ingest.RecordAssembler.splitRecords(lines.iterator)
          .map(r => graft.parse.TechLogParser.parseLine(r)
            .copy(Timestamp = f.getFileName.toString))
      } finally files.close()
    val viaScala = s.createDataFrame(entries)
    assert(viaSource.schema == viaScala.schema)
    val a = viaSource.drop("InsertedAt").orderBy("LogTimestamp").collect().toSeq
    val b = viaScala.drop("InsertedAt").orderBy("LogTimestamp").collect().toSeq
    assert(a == b)
    assert(a.size == 3)
  }

  test("files bin-pack into partitions by size (maxPartitionBytes)") {
    val s = TestSpark.spark
    // two tiny files fit one 32 MB-target partition by default
    assert(s.read.format("techlog").load(dir).rdd.getNumPartitions == 1)
    // a 1-byte target forces one partition per file
    assert(s.read.format("techlog").option("maxPartitionBytes", "1")
      .load(dir).rdd.getNumPartitions == 2)
  }

  test("column pruning pushes into the scan") {
    val s = TestSpark.spark
    val pruned = s.read.format("techlog").load(dir)
      .select(col("Component"), col("User"))
    // V2 pruning: the BatchScan's bracketed output list is exactly the
    // selected columns (no other LogEntry field leaves the reader)
    val scan = pruned.queryExecution.executedPlan.toString
    assert("BatchScan techlog[^\\[]*\\[Component#\\d+, User#\\d+\\]".r
      .findFirstIn(scan).isDefined, scan)
    assert(pruned.orderBy("Component").collect().map(_.getString(0)).toSeq ==
      Seq("CONN", "DBMSSQL", "EXCP"))
  }

  test("micro-batch stream ingests per rotated file and resumes from checkpoint") {
    val s = TestSpark.spark
    val sdir = graft.util.TmpDirs.scratch("techlog-stream")
    val ckpt = graft.util.TmpDirs.scratch("techlog-stream-ckpt")
    val out = graft.util.TmpDirs.scratch("techlog-stream-out")
    Files.writeString(Paths.get(sdir, "25052607.log"),
      "00:03.000001-1,CONN,2,process=rphost,Usr=a\n")
    // parquet sink: the memory sink refuses checkpoint recovery
    def start() = s.readStream.format("techlog")
      .option("idleAdmitMs", "0").load(sdir)
      .select(col("Component"), col("User"), col("LogTimestamp"))
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("append").format("parquet").option("path", out).start()
    def components() = s.read.parquet(out)
      .select("Component").collect().map(_.getString(0)).sorted.toSeq
    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(components() == Seq("CONN"))
      Files.writeString(Paths.get(sdir, "25052608.log"),
        "00:04.000001-2,DBMSSQL,3,process=rphost,Usr=b\n")
      q1.processAllAvailable()
      assert(components() == Seq("CONN", "DBMSSQL"))
    } finally q1.stop()
    // restart from the checkpoint: the new file arrives exactly once,
    // committed files are not re-ingested
    Files.writeString(Paths.get(sdir, "25052609.log"),
      "00:05.000001-3,EXCP,1,process=rphost,Usr=c\n")
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(components() == Seq("CONN", "DBMSSQL", "EXCP"))
    } finally q2.stop()
  }

  test("equality filters push into the scan and are dropped post-scan") {
    val s = TestSpark.spark
    val filtered = s.read.format("techlog").load(dir)
      .filter(col("Component") === "DBMSSQL")
      .select(col("User"))
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("EqualTo(Component,DBMSSQL)"), plan)
    // the pushed equality is evaluated in the reader — no Filter node
    // survives for it (IsNotNull is also pushed, so none at all)
    assert(!plan.contains("Filter ("), plan)
    assert(filtered.collect().map(_.getString(0)).toSeq == Seq("alice"))
  }

  test("maxFilesPerTrigger admits a bounded backlog per micro-batch") {
    val s = TestSpark.spark
    val sdir = graft.util.TmpDirs.scratch("techlog-admission")
    (7 to 9).foreach { h =>
      Files.writeString(Paths.get(sdir, s"2505260$h.log"),
        s"00:0$h.000001-$h,CONN,2,process=rphost,Usr=u$h\n")
    }
    val q = s.readStream.format("techlog")
      .option("idleAdmitMs", "0")
      .option("maxFilesPerTrigger", "1").load(sdir)
      .select(col("User"))
      .writeStream.outputMode("append")
      .format("memory").queryName("tl_admit").start()
    try {
      q.processAllAvailable()
      assert(s.table("tl_admit").count() == 3)
      // 3 files drained one per micro-batch, not one catch-up batch
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length == 3, batches.map(_.numInputRows).mkString(","))
      assert(batches.forall(_.numInputRows == 1))
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains the backlog in bounded batches, then stops") {
    val s = TestSpark.spark
    val sdir = graft.util.TmpDirs.scratch("techlog-availnow")
    (1 to 3).foreach { h =>
      Files.writeString(Paths.get(sdir, s"2505260$h.log"),
        s"00:0$h.000001-$h,CONN,2,process=rphost,Usr=u$h\n")
    }
    val q = s.readStream.format("techlog")
      .option("idleAdmitMs", "0") // quiesced backlog: admit raw sizes
      .option("maxFilesPerTrigger", "1").load(sdir)
      .select(col("User"))
      .writeStream.outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName("tl_avail").start()
    try {
      assert(q.awaitTermination(60000), "query did not self-terminate")
      assert(s.table("tl_avail").count() == 3)
      assert(q.recentProgress.count(_.numInputRows > 0) == 3) // bounded drain
    } finally q.stop()
  }

  test("connector registers in the catalog: CREATE TABLE USING techlog + SQL") {
    val s = TestSpark.spark
    s.sql("DROP TABLE IF EXISTS techlog_cat")
    s.sql(s"CREATE TABLE techlog_cat USING techlog OPTIONS (path '$dir')")
    try {
      val rows = s.sql(
        """SELECT Component, count(*) AS n FROM techlog_cat
          |GROUP BY Component ORDER BY Component""".stripMargin)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(rows == Seq(("CONN", 1L), ("DBMSSQL", 1L), ("EXCP", 1L)))
    } finally s.sql("DROP TABLE IF EXISTS techlog_cat")
  }

  test("appended bytes on a committed file are re-read exactly once (tail.go parity)") {
    val s = TestSpark.spark
    val sdir = graft.util.TmpDirs.scratch("techlog-append")
    val ckpt = graft.util.TmpDirs.scratch("techlog-append-ckpt")
    val out = graft.util.TmpDirs.scratch("techlog-append-out")
    val f = Paths.get(sdir, "25052607.log")
    Files.writeString(f, "00:01.000001-1,CONN,2,process=rphost,Usr=a\n")
    def start() = s.readStream.format("techlog")
      .option("idleAdmitMs", "0").load(sdir)
      .select(col("Component"), col("User"))
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("append").format("parquet").option("path", out).start()
    def users() = s.read.parquet(out)
      .select("User").collect().map(_.getString(0)).sorted.toSeq
    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(users() == Seq("a"))
      // the current-hour file GROWS after its batch committed: only the
      // appended byte range is admitted — no loss, no re-read of [0,S)
      Files.writeString(f,
        "00:02.000001-2,DBMSSQL,3,process=rphost,Usr=b\n",
        java.nio.file.StandardOpenOption.APPEND)
      q1.processAllAvailable()
      assert(users() == Seq("a", "b"))
    } finally q1.stop()
    // grow again while the query is DOWN; restart reads only the delta
    Files.writeString(f,
      "00:03.000001-3,EXCP,1,process=rphost,Usr=c\n",
      java.nio.file.StandardOpenOption.APPEND)
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(users() == Seq("a", "b", "c"))
    } finally q2.stop()
  }

  test("files in new subdirectories are ingested wherever they sort (watcher.go:56 parity)") {
    val s = TestSpark.spark
    val sdir = graft.util.TmpDirs.scratch("techlog-newdir")
    val ckpt = graft.util.TmpDirs.scratch("techlog-newdir-ckpt")
    val out = graft.util.TmpDirs.scratch("techlog-newdir-out")
    Files.createDirectories(Paths.get(sdir, "rphost_200"))
    Files.writeString(Paths.get(sdir, "rphost_200", "25052607.log"),
      "00:01.000001-1,CONN,2,process=rphost,Usr=late\n")
    val q = s.readStream.format("techlog")
      .option("idleAdmitMs", "0").load(sdir)
      .select(col("User"))
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("append").format("parquet").option("path", out).start()
    try {
      q.processAllAvailable()
      // a new per-process dir whose paths sort BEFORE the committed
      // ones (a count-based offset would swallow it silently)
      Files.createDirectories(Paths.get(sdir, "ragent_100"))
      Files.writeString(Paths.get(sdir, "ragent_100", "25052607.log"),
        "00:02.000001-2,DBMSSQL,3,process=ragent,Usr=early\n")
      q.processAllAvailable()
      val users = s.read.parquet(out)
        .select("User").collect().map(_.getString(0)).sorted.toSeq
      assert(users == Seq("early", "late"))
    } finally q.stop()
  }

  test("a truncated (rotated-in-place) file is re-read from zero") {
    val s = TestSpark.spark
    val sdir = graft.util.TmpDirs.scratch("techlog-trunc")
    val ckpt = graft.util.TmpDirs.scratch("techlog-trunc-ckpt")
    val out = graft.util.TmpDirs.scratch("techlog-trunc-out")
    val f = Paths.get(sdir, "25052607.log")
    Files.writeString(f,
      "00:01.000001-1,CONN,2,process=rphost,Usr=a\n" +
        "00:02.000001-2,CONN,2,process=rphost,Usr=b\n")
    val q = s.readStream.format("techlog")
      .option("idleAdmitMs", "0").load(sdir)
      .select(col("User"))
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("append").format("parquet").option("path", out).start()
    try {
      q.processAllAvailable()
      assert(s.read.parquet(out).count() == 2)
      // in-place rewrite, SMALLER than the committed size
      Files.writeString(f, "00:09.000001-9,EXCP,1,process=rphost,Usr=z\n")
      q.processAllAvailable()
      val users = s.read.parquet(out)
        .select("User").collect().map(_.getString(0)).sorted.toSeq
      assert(users == Seq("a", "b", "z"))
    } finally q.stop()
  }

  test("glob FilePattern selects files like the reference (scan.go:116-124)") {
    val s = TestSpark.spark
    val gdir = graft.util.TmpDirs.scratch("techlog-glob")
    Files.writeString(Paths.get(gdir, "rphost_1234.log"),
      "00:01.000001-1,CONN,2,process=rphost,Usr=rp\n")
    Files.writeString(Paths.get(gdir, "ragent_1234.log"),
      "00:02.000001-2,CONN,2,process=ragent,Usr=ra\n")
    Files.writeString(Paths.get(gdir, "rphost_1234.txt"),
      "00:03.000001-3,CONN,2,process=rphost,Usr=nope\n")
    def users(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("User").collect().map(_.getString(0)).sorted.toSeq
    assert(users(s.read.format("techlog").option("pathGlobFilter", "rphost_*.log")
      .load(gdir)) == Seq("rp"))
    // no pattern set: the default glob `*.log` skips rphost_1234.txt
    assert(users(s.read.format("techlog").load(gdir)) == Seq("ra", "rp"))
    // `?` matches exactly one character
    val q = s.read.format("techlog").option("pathGlobFilter", "r?host_????.log")
      .load(gdir).select("User").collect().map(_.getString(0)).toSeq
    assert(q == Seq("rp"))
  }

  test("listing skips a file deleted between the directory read and its stat") {
    import java.nio.file.{FileVisitResult, NoSuchFileException}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import graft.sources.{TechLogMicroBatchStream, TechLogOffset, TechLogSource}
    val ldir = Paths.get(graft.util.TmpDirs.scratch("techlog-list-race"))
    // the walker reports a vanished entry through visitFileFailed: a
    // deleted file or subdirectory is skipped, the root and any other
    // I/O error still fail the listing
    val v = new TechLogSource.LocalLogFiles(ldir, _ => true)
    assert(v.visitFileFailed(ldir.resolve("25052607.log"),
      new NoSuchFileException("25052607.log")) == FileVisitResult.CONTINUE)
    assert(v.visitFileFailed(ldir.resolve("rphost_1"),
      new NoSuchFileException("rphost_1")) == FileVisitResult.CONTINUE)
    intercept[NoSuchFileException](v.visitFileFailed(ldir, new NoSuchFileException("root")))
    intercept[java.nio.file.AccessDeniedException](v.visitFileFailed(
      ldir.resolve("x.log"), new java.nio.file.AccessDeniedException("x.log")))
    // a stream's latestOffset racing retention never throws: a
    // deleter empties the directory while the listing walks it
    val files = (0 until 200).map(i => ldir.resolve(f"$i%08d.log"))
    val st = new TechLogMicroBatchStream(
      Map("path" -> ldir.toString, "idleAdmitMs" -> "0"), TechLogSource.schema)
    def latest() = st.latestOffset(st.initialOffset(), ReadLimit.allAvailable())
    (1 to 5).foreach { _ =>
      files.foreach(f => Files.writeString(f, "x\n"))
      val deleter = new Thread(() => files.foreach(Files.deleteIfExists))
      deleter.start()
      try while (deleter.isAlive) latest()
      finally deleter.join()
      assert(latest() == TechLogOffset(Map.empty))
    }
    // a symlinked log is listed at its target's size; a dangling link is not
    val target = Files.writeString(
      Paths.get(graft.util.TmpDirs.scratch("techlog-list-target"), "t.log"), "x\n")
    Files.createSymbolicLink(ldir.resolve("25052600.log"), target)
    Files.createSymbolicLink(ldir.resolve("25052601.log"), ldir.resolve("missing"))
    assert(latest() == TechLogOffset(Map(ldir.resolve("25052600.log").toString -> 2L)))
  }

  test("range and IN filters push into the scan and are dropped post-scan") {
    val s = TestSpark.spark
    val ge = s.read.format("techlog").load(dir)
      .filter(col("Severity") >= 2).select(col("User"))
    val plan = ge.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(Severity,2)"), plan)
    assert(!plan.contains("Filter ("), plan)
    assert(ge.collect().map(_.getString(0)).sorted.toSeq == Seq("alice", "bob"))
    val in = s.read.format("techlog").load(dir)
      .filter(col("Component").isin("CONN", "EXCP")).select(col("User"))
    val planIn = in.queryExecution.executedPlan.toString
    assert(planIn.contains("In(Component"), planIn)
    assert(!planIn.contains("Filter ("), planIn)
    assert(in.collect().map(_.getString(0)).sorted.toSeq == Seq("bob", "carol"))
  }

  test("Timestamp predicates prune the file list before any I/O") {
    val s = TestSpark.spark
    // 1-byte target ⇒ one partition per surviving file: partition
    // count proves pruning happened at planInputPartitions, pre-read
    def parts(df: org.apache.spark.sql.DataFrame): Int = df.rdd.getNumPartitions
    val base = s.read.format("techlog").option("maxPartitionBytes", "1").load(dir)
    assert(parts(base) == 2)
    assert(parts(base.filter(col("Timestamp") >= "25052608.log")) == 1)
    assert(parts(base.filter(col("Timestamp") === "25052607.log")) == 1)
    assert(parts(base.filter(col("Timestamp").isin("25052608.log"))) == 1)
    // and the pruned scan still returns the right rows
    assert(base.filter(col("Timestamp") >= "25052608.log")
      .select("User").collect().map(_.getString(0)).toSeq == Seq("carol"))
  }

  test("multi-line Context survives the source intact") {
    val s = TestSpark.spark
    val ctx = s.read.format("techlog").load(dir)
      .filter(col("Component") === "DBMSSQL")
      .select(col("Context")).collect()(0).getString(0)
    assert(ctx == "line one\nline two")
  }

  test("property: random byte-chunk writer races never tear or duplicate records") {
    import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
    import graft.sources.{TechLogMicroBatchStream, TechLogSource}
    TestSpark.spark
    val userIdx = TechLogSource.schema.fieldIndex("User")
    def collect(st: TechLogMicroBatchStream, a: Offset, b: Offset): Seq[String] = {
      val rf = st.createReaderFactory()
      st.planInputPartitions(a, b).toSeq.flatMap { p =>
        val r = rf.createReader(p)
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        try { while (r.next()) buf += r.get().getUTF8String(userIdx).toString }
        finally r.close()
        buf
      }
    }
    val rnd = new scala.util.Random(42) // deterministic trials
    (1 to 4).foreach { trial =>
      val sdir = graft.util.TmpDirs.scratch(s"techlog-prop$trial")
      val f = Paths.get(sdir, "25052607.log")
      Files.write(f, Array.emptyByteArray)
      // multi-line Context records + multi-byte UTF-8 user names, so
      // chunk cuts land mid-record, mid-line, and mid-codepoint
      val users = (1 to 25).map(i => s"uté$i")
      val content = users.zipWithIndex.map { case (u, i) =>
        val ctx = if (i % 3 == 0) ",Context='l1\nl2'" else ""
        f"00:${i % 60}%02d.000001-${i + 1},CONN,2,process=rphost,Usr=$u$ctx\n"
      }.mkString
      val bytes = content.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val st = new TechLogMicroBatchStream(
        Map("path" -> sdir, "idleAdmitMs" -> "600000"), TechLogSource.schema)
      var off = st.initialOffset()
      val got = scala.collection.mutable.ArrayBuffer.empty[String]
      var pos = 0
      while (pos < bytes.length) {
        val next = math.min(bytes.length, pos + 1 + rnd.nextInt(97))
        Files.write(f, java.util.Arrays.copyOfRange(bytes, pos, next),
          java.nio.file.StandardOpenOption.APPEND)
        pos = next
        val o2 = st.latestOffset(off, ReadLimit.allAvailable())
        got ++= collect(st, off, o2)
        off = o2
      }
      // writer done → drain the held-back tail (idle-flush semantics)
      val idle = new TechLogMicroBatchStream(
        Map("path" -> sdir, "idleAdmitMs" -> "0"), TechLogSource.schema)
      val o3 = idle.latestOffset(off, ReadLimit.allAvailable())
      got ++= collect(idle, off, o3)
      assert(got.toSeq == users, s"trial $trial")
    }
  }

  test("streaming offsets are record-aligned: a half-written record is held back, then arrives exactly once intact") {
    import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
    import graft.sources.{TechLogMicroBatchStream, TechLogSource}
    // ensure the class-level Spark session exists (reader uses its conf)
    TestSpark.spark
    val sdir = graft.util.TmpDirs.scratch("techlog-halfrec")
    val f = Paths.get(sdir, "25052607.log")
    val userIdx = TechLogSource.schema.fieldIndex("User")
    def users(st: TechLogMicroBatchStream, a: Offset, b: Offset): Seq[String] = {
      val rf = st.createReaderFactory()
      st.planInputPartitions(a, b).toSeq.flatMap { p =>
        val r = rf.createReader(p)
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        try { while (r.next()) buf += r.get().getUTF8String(userIdx).toString }
        finally r.close()
        buf
      }
    }
    // a complete record, then HALF of a second one — cut mid-line,
    // exactly what a listing catches when it races the writer
    Files.writeString(f,
      "00:01.000001-1,CONN,2,process=rphost,Usr=a\n" +
        "00:02.000001-2,DBMSSQL,3,process=rphost,Us")
    val st = new TechLogMicroBatchStream(
      Map("path" -> sdir, "idleAdmitMs" -> "600000"), TechLogSource.schema)
    val o0 = st.initialOffset()
    val o1 = st.latestOffset(o0, ReadLimit.allAvailable())
    // batch 1 admits only the complete record — the in-progress one
    // (and its partial line) is held back, not emitted malformed
    assert(users(st, o0, o1) == Seq("a"))
    // a mid-file record-boundary offset survives the checkpoint JSON
    // round-trip exactly (restart replays the same byte ranges)
    assert(graft.sources.TechLogOffset.parse(
      o1.asInstanceOf[graft.sources.TechLogOffset].json(),
      Map("path" -> sdir)) == o1)
    // the writer finishes the record and starts a third
    Files.writeString(f,
      "r=b\n00:03.000001-3,EXCP,1,process=rphost,Usr=c\n",
      java.nio.file.StandardOpenOption.APPEND)
    val o2 = st.latestOffset(o1, ReadLimit.allAvailable())
    // batch 2 = exactly the completed record, intact — the half from
    // batch 1 was never read, so nothing is duplicated or torn
    assert(users(st, o1, o2) == Seq("b"))
    // record 3 is still the in-progress tail of the hot file: held
    assert(users(st, o2, st.latestOffset(o2, ReadLimit.allAvailable())).isEmpty)
    // writer goes idle → the pending record flushes (reference's 2 s
    // idle flush, tail.go:79-85) — modeled with a short idleAdmitMs
    val idle = new TechLogMicroBatchStream(
      Map("path" -> sdir, "idleAdmitMs" -> "50"), TechLogSource.schema)
    Thread.sleep(120)
    val o3 = idle.latestOffset(o2, ReadLimit.allAvailable())
    assert(users(idle, o2, o3) == Seq("c"))
  }

  test("giant-record guard: a boundary-free run past maxChunk holds everything, never buffers it all") {
    import graft.sources.TechLogSource
    val sdir = graft.util.TmpDirs.scratch("techlog-giant-record")
    val hconf = new org.apache.hadoop.conf.Configuration()
    // a run larger than the backward-scan cap with NO newline at all —
    // not a techlog; alignedAdmit must give up (admit 0) instead of
    // growing its scan window without bound. maxChunk is pinned at the
    // 64 KiB initial chunk so the guard fires after one failed scan
    // (production default 1 GiB — same code path, spec-sized IO).
    val cap = 64L * 1024
    val giant = Paths.get(sdir, "25052608.log")
    Files.write(giant, Array.fill[Byte]((cap + 16 * 1024).toInt)('x'))
    val size = Files.size(giant)
    assert(TechLogSource.alignedAdmit(giant.toString, size, holdBackRecord = true,
      hconf, maxChunk = cap) == 0L)
    assert(TechLogSource.alignedAdmit(giant.toString, size, holdBackRecord = false,
      hconf, maxChunk = cap) == 0L)
    // same size but WITH a line boundary inside the first scan chunk:
    // admission proceeds normally — the guard gates scan growth, not
    // file size
    val ok = Paths.get(sdir, "25052609.log")
    val rec = "00:01.000001-1,CONN,2,process=rphost,Usr=a\n"
    val pad = new String(Array.fill((cap + 16 * 1024).toInt - rec.length - 10)('x')) + "\n"
    Files.writeString(ok, rec + pad + "partialtail")
    assert(TechLogSource.alignedAdmit(ok.toString, Files.size(ok),
      holdBackRecord = false, hconf, maxChunk = cap) ==
      (rec + pad).length.toLong)
    // a boundary-free file SMALLER than the cap also admits nothing
    // (the from == 0 exhaustion path, not the guard)
    val small = Paths.get(sdir, "25052610.log")
    Files.write(small, Array.fill[Byte](1024)('x'))
    assert(TechLogSource.alignedAdmit(small.toString, 1024L,
      holdBackRecord = true, hconf, maxChunk = cap) == 0L)
  }

  test("AvailableNow drain racing a live writer never commits a torn record") {
    import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
    import graft.sources.{TechLogMicroBatchStream, TechLogSource}
    TestSpark.spark
    val sdir = graft.util.TmpDirs.scratch("techlog-availnow-race")
    val f = Paths.get(sdir, "25052607.log")
    val userIdx = TechLogSource.schema.fieldIndex("User")
    def users(st: TechLogMicroBatchStream, a: Offset, b: Offset): Seq[String] = {
      val rf = st.createReaderFactory()
      st.planInputPartitions(a, b).toSeq.flatMap { p =>
        val r = rf.createReader(p)
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        try { while (r.next()) buf += r.get().getUTF8String(userIdx).toString }
        finally r.close()
        buf
      }
    }
    // the drain's initial listing catches the writer mid-record
    Files.writeString(f,
      "00:01.000001-1,CONN,2,process=rphost,Usr=a\n" +
        "00:02.000001-2,DBMSSQL,3,process=rphost,Us")
    val st = new TechLogMicroBatchStream(
      Map("path" -> sdir, "idleAdmitMs" -> "600000"), TechLogSource.schema)
    st.prepareForTriggerAvailableNow() // freeze the LISTING here
    val o0 = st.initialOffset()
    val o1 = st.latestOffset(o0, ReadLimit.allAvailable())
    // only the listing is frozen — admission still aligns to record
    // boundaries, so the drain emits the complete record and holds
    // the in-progress one rather than committing the frozen raw size
    assert(users(st, o0, o1) == Seq("a"))
    // the drain reaches a fixed point and self-terminates with the
    // torn tail still un-committed
    assert(st.latestOffset(o1, ReadLimit.allAvailable()) == o1)
    // writer finishes the record → the NEXT periodic drain delivers
    // it intact, exactly once
    Files.writeString(f, "r=b\n", java.nio.file.StandardOpenOption.APPEND)
    val next = new TechLogMicroBatchStream(
      Map("path" -> sdir, "idleAdmitMs" -> "0"), TechLogSource.schema)
    next.prepareForTriggerAvailableNow()
    val o2 = next.latestOffset(o1, ReadLimit.allAvailable())
    assert(users(next, o1, o2) == Seq("b"))
  }
}
