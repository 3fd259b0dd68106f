package graft

import java.nio.file.{Files, Path}
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Transform
import graft.pipeline.LogPump

/** End-to-end batch pump: synthetic .log files in the 1C format →
  * 16-column TechLogRow output (SURVEY.md §5 "Pipeline e2e").
  */
class LogPumpSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def writeLogs(files: Map[String, String]): Path = {
    val dir = Files.createTempDirectory("graft-pump")
    files.foreach { case (name, content) =>
      Files.writeString(dir.resolve(name), content)
    }
    dir
  }

  test("e2e: two files, multi-line records, full column mapping") {
    val dir = writeLogs(Map(
      "25052607.log" ->
        ("""00:03.310025-1327862,DBMSSQL,5,p:processName=srv1,t:clientID=17,t:connectID=55,SessionID=901,Usr=ivanov,DataBase=acc,Rows=10,RowsAffected=2,Sql='SELECT 1
          |FROM t',Context='Ctx line1
          |line2'
          |00:04.500000-77,CONN,3,Usr=petrov
          |""").stripMargin,
      "25052608.log" ->
        "15:59.999999-1,EXCP,2,Usr=sidorov,DataBase=hr\n"))

    val out = LogPump.pumpBatch(spark, dir.toString).collect()
      .sortBy(_.getAs[java.sql.Timestamp]("EventTime"))
    assert(out.length == 3)

    val r = out(0)
    assert(r.getAs[java.sql.Date]("EventDate").toString == "2025-05-26")
    assert(r.getAs[java.sql.Timestamp]("EventTime").toInstant ==
      Instant.parse("2025-05-26T07:00:03.310025Z"))
    assert(r.getAs[String]("EventType") == "DBMSSQL")
    assert(r.getAs[Long]("Duration") == 1327862L)
    assert(r.getAs[String]("User") == "ivanov")
    assert(r.getAs[String]("InfoBase") == "acc")
    assert(r.getAs[Long]("SessionID") == 901L)
    assert(r.getAs[Long]("ClientID") == 17L)
    assert(r.getAs[Long]("ConnectionID") == 55L)
    assert(r.getAs[String]("ExceptionType") == null)
    assert(r.getAs[String]("ErrorText") == null)
    assert(r.getAs[String]("SQLText") == "SELECT 1\nFROM t")
    assert(r.getAs[Int]("Rows") == 10)
    assert(r.getAs[Int]("RowsAffected") == 2)
    assert(r.getAs[String]("Context") == "Ctx line1\nline2")
    assert(r.getAs[String]("ProcessName") == "srv1")

    assert(out(1).getAs[String]("EventType") == "CONN")
    assert(out(1).getAs[Long]("Duration") == 77L)

    val r3 = out(2)
    assert(r3.getAs[java.sql.Timestamp]("EventTime").toInstant ==
      Instant.parse("2025-05-26T08:15:59.999999Z"))
    assert(r3.getAs[String]("InfoBase") == "hr")
  }

  test("invalid records dropped: bad hour in filename, unparseable time (transform.go:21-34)") {
    val dir = writeLogs(Map(
      "2505260a.log" -> "00:01.123456-5,CONN,3,Usr=a\n", // non-numeric hour
      "250526.log"   -> "00:01.123456-5,CONN,3,Usr=b\n", // too short (Go would panic-slice)
      "25059907.log" -> "00:01.123456-5,CONN,3,Usr=c\n", // month 99 → time.Parse fails
      "25052607.log" -> ("garbage first line\n" +        // leading junk record dropped
        "99:99.123456-5,CONN,3,Usr=d\n" +                // minute 99 → fails
        "00:02.123456-5,CONN,3,Usr=ok\n")))
    val out = LogPump.pumpBatch(spark, dir.toString).collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("User") == "ok")
  }

  test("ANSI mode: a LogTimestamp without '-' is Duration 0, not a failed job") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    // a valid record boundary: the header's only '-' is in a later field
    val dir = writeLogs(Map("25052607.log" -> "00:01.123456,CONN,3,Usr=a-b\n"))
    val out = LogPump.pumpBatch(spark, dir.toString).collect()
    assert(out.map(r => (r.getAs[String]("User"), r.getAs[Long]("Duration"))).toSeq ==
      Seq(("a-b", 0L)))
    val dlq = Transform.withReason(spark.read.format("techlog").load(dir.toString)).collect()
    assert(dlq.map(r => (r.getAs[String]("drop_reason"), r.getAs[Long]("Duration"))).toSeq ==
      Seq(("ok", 0L)))
  }

  test("ANSI mode: a duration of more than 38 digits is Duration 0, not a failed job") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val dir = writeLogs(Map("25052607.log" -> s"00:01.123456-${"9" * 40},CONN,3,Usr=big\n"))
    val out = LogPump.pumpBatch(spark, dir.toString).collect()
    assert(out.map(r => (r.getAs[String]("User"), r.getAs[Long]("Duration"))).toSeq ==
      Seq(("big", 0L)))
  }

  test("ANSI mode: the DLQ view materializes Duration of a leading junk record") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val dir = writeLogs(Map("25052607.log" ->
      "garbage first line\n00:02.123456-5,CONN,3,Usr=ok\n"))
    val dlq = Transform.withReason(spark.read.format("techlog").load(dir.toString))
      .select("drop_reason", "Duration").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    assert(dlq == Seq(("no_time_match", 0L), ("ok", 5L)))
  }

  test("BOM before time is stripped (transform.go:29)") {
    val dir = writeLogs(Map(
      "25052600.log" -> "﻿00:01.123456-5,CONN,3,Usr=bom\n"))
    val out = LogPump.pumpBatch(spark, dir.toString).collect()
    assert(out.length == 1)
    assert(out(0).getAs[java.sql.Timestamp]("EventTime").toInstant ==
      Instant.parse("2025-05-26T00:00:01.123456Z"))
  }

  test("short fraction is a valid time; duration out of uint32 range → 0 (transform.go:36-53)") {
    val dir = writeLogs(Map(
      "25052601.log" -> ("00:01.12-99999999999,CONN,3,Usr=x\n" +
        "00:02.50-3,CONN,3,Usr=y\n")))
    val out = LogPump.pumpBatch(spark, dir.toString).collect()
      .sortBy(_.getAs[java.sql.Timestamp]("EventTime"))
    assert(out.length == 2)
    assert(out(0).getAs[Long]("Duration") == 0L) // range error → 0, not clamp
    assert(out(0).getAs[java.sql.Timestamp]("EventTime").toInstant ==
      Instant.parse("2025-05-26T01:00:01.120Z"))
    assert(out(1).getAs[Long]("Duration") == 3L)
  }

  test("quirk preserved: single-digit-fraction line is NOT a record boundary (scan.go:16)") {
    // `\d{2}:\d{2}\.\d{2,}` needs ≥2 fraction digits, so "00:02.5-3,..."
    // merges into the previous record; its later Usr=y overwrites Usr=x
    // in the naive comma-split header — exactly what the reference does.
    val dir = writeLogs(Map(
      "25052601.log" -> ("00:01.123456-5,CONN,3,Usr=x\n" +
        "00:02.5-3,CONN,3,Usr=y\n")))
    val out = LogPump.pumpBatch(spark, dir.toString).collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("User") == "y")
    assert(out(0).getAs[java.sql.Timestamp]("EventTime").toInstant ==
      Instant.parse("2025-05-26T01:00:01.123456Z"))
  }

  test("SessionID narrowed mod 2^32 (transform.go:62)") {
    val dir = writeLogs(Map(
      "25052600.log" -> "00:01.123456-5,CONN,3,SessionID=4294967297\n"))
    val out = LogPump.pumpBatch(spark, dir.toString).collect()
    assert(out(0).getAs[Long]("SessionID") == 1L)
  }

  test("routing: per-component table with default fallback (clickhouse.go:64-72)") {
    val dir = writeLogs(Map(
      "25052600.log" -> ("00:01.123456-5,DBMSSQL,3,Usr=a\n" +
        "00:02.123456-5,CONN,3,Usr=b\n" +
        "00:03.123456-5,EXCP,3,Usr=c\n")))
    val rows = LogPump.pumpBatch(spark, dir.toString)
    val routed = LogPump.withRoute(rows, Map("DBMSSQL" -> "sql_logs"), "logs")
      .select("EventType", "__table").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(routed == Map("DBMSSQL" -> "sql_logs", "CONN" -> "logs", "EXCP" -> "logs"))
  }

  test("volume: 50 files x 200 records pump completely and exactly once") {
    val files = (0 until 50).map { f =>
      val hour = f % 24
      val name = f"250601$hour%02d-$f.log" // suffix keeps names unique
      val content = (0 until 200).map { r =>
        f"00:${r % 60}%02d.${100000 + r}%06d-$r,CONN,3,Usr=u${f}_$r,SessionID=${f * 1000 + r}"
      }.mkString("", "\n", "\n")
      name -> content
    }.toMap
    val dir = writeLogs(files)
    val out = LogPump.pumpBatch(spark, dir.toString)
    assert(out.count() == 10000L)
    // every record present exactly once
    assert(out.select("SessionID").distinct().count() == 10000L)
  }

  test("SQL front-end over the pump output (temp view)") {
    val dir = writeLogs(Map(
      "25052607.log" -> ("00:01.100000-5,DBMSSQL,3,Usr=a,DataBase=hr\n" +
        "00:02.100000-9,DBMSSQL,3,Usr=b,DataBase=hr\n" +
        "00:03.100000-2,CONN,3,Usr=a,DataBase=acc\n")))
    LogPump.pumpBatch(spark, dir.toString).createOrReplaceTempView("tech_log")
    val rows = spark.sql(
      """SELECT InfoBase, count(*) AS n, sum(Duration) AS total_dur
        |FROM tech_log
        |GROUP BY InfoBase
        |ORDER BY InfoBase""".stripMargin).collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("acc", 1L, 2L), ("hr", 2L, 14L)))
  }

  test("q91 reads through the pushed-filter scan, q40 through the plain one, same rows") {
    val sf = "/root/testdata/sf0.001"
    val q40 = graft.ops.PumpOps.pumpRoundTrip(spark, sf)
    val q91 = graft.ops.PumpOps.dsv2RoundTrip(spark, sf)
    val plan40 = q40.queryExecution.executedPlan.toString
    val plan91 = q91.queryExecution.executedPlan.toString
    assert(plan91.contains("GreaterThanOrEqual(Timestamp,00000000.log)"), plan91)
    assert(!plan40.contains("GreaterThanOrEqual(Timestamp"), plan40)
    assert(q91.collect().toSeq == q40.collect().toSeq)
  }

  test("routed JDBC sink bulk-appends per table (K1, embedded Derby)") {
    val dir = writeLogs(Map(
      "25052600.log" -> ("00:01.123456-5,DBMSSQL,3,Usr=a\n" +
        "00:02.123456-5,CONN,3,Usr=b\n" +
        "00:03.123456-5,CONN,3,Usr=c\n")))
    val url = s"jdbc:derby:memory:pumpdb${System.nanoTime()};create=true"
    val rows = LogPump.pumpBatch(spark, dir.toString)
      // Derby has no unbounded VARCHAR default for CLOB-ish cols; keep
      // the sink-shape test on the fixed-width columns
      .select("EventDate", "EventTime", "EventType", "User", "SessionID", "Duration")
    LogPump.writeRoutedJdbc(rows, Map("DBMSSQL" -> "SQL_LOGS"), "LOGS", url)
    val logs = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "LOGS").load()
    val sqlLogs = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "SQL_LOGS").load()
    assert(logs.count() == 2 && sqlLogs.count() == 1)
    assert(sqlLogs.select("User").collect()(0).getString(0) == "a")
    // append semantics: a second batch adds, never truncates
    LogPump.writeRoutedJdbc(rows, Map("DBMSSQL" -> "SQL_LOGS"), "LOGS", url)
    assert(spark.read.format("jdbc").option("url", url)
      .option("dbtable", "LOGS").load().count() == 4)
  }

  test("idempotent JDBC batch: replayed batch ids are skipped, not double-appended") {
    val dir = writeLogs(Map(
      "25052600.log" -> ("00:01.123456-5,DBMSSQL,3,Usr=a\n" +
        "00:02.123456-5,CONN,3,Usr=b\n")))
    val url = s"jdbc:derby:memory:idemdb${System.nanoTime()};create=true"
    val rows = LogPump.pumpBatch(spark, dir.toString)
      .select("EventDate", "EventTime", "EventType", "User", "SessionID", "Duration")
    def count() = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "LOGS").load().count()
    assert(LogPump.idempotentJdbcBatch(rows, 7L, Map.empty, "LOGS", url))
    assert(count() == 2)
    // replay of batch 7 (restart after sink commit, before checkpoint)
    assert(!LogPump.idempotentJdbcBatch(rows, 7L, Map.empty, "LOGS", url))
    assert(count() == 2) // unchanged — no double append
    // the next batch id still writes
    assert(LogPump.idempotentJdbcBatch(rows, 8L, Map.empty, "LOGS", url))
    assert(count() == 4)
  }

  test("routed sink writes EventDate-partitioned parquet per table (K1)") {
    val dir = writeLogs(Map(
      "25052600.log" -> ("00:01.123456-5,DBMSSQL,3,Usr=a\n" +
        "00:02.123456-5,CONN,3,Usr=b\n")))
    val outDir = Files.createTempDirectory("graft-sink").toString
    val rows = LogPump.pumpBatch(spark, dir.toString)
    LogPump.writeRoutedExactlyOnce(rows, Map("DBMSSQL" -> "sql_logs"), "logs", outDir, 0L)
    val sqlLogs = spark.read.parquet(s"$outDir/sql_logs")
    val defLogs = spark.read.parquet(s"$outDir/logs")
    assert(sqlLogs.count() == 1 && defLogs.count() == 1)
    assert(sqlLogs.columns.contains("EventDate")) // partition col survives
    assert(Files.exists(java.nio.file.Paths.get(
      s"$outDir/sql_logs/batch_id=0/EventDate=2025-05-26")))
  }

  /** Every data file under `outDir`, as paths relative to it. */
  private def sinkFiles(outDir: String): Seq[String] = {
    val root = java.nio.file.Paths.get(outDir)
    val st = Files.walk(root)
    try st.iterator().asScala.filter(p => p.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith("."))
      .map(p => root.relativize(p).toString).toSeq.sorted
    finally st.close()
  }

  /** Hourly files over two days whose records are NOT written in time
    * order: minutes follow a fixed permutation, so no file, task or
    * shuffle order can pass for EventTime order by accident.
    */
  private def shuffledHours(n: Int): Path = writeLogs((0 until n).map { h =>
    val day = if (h < n / 2) "250526" else "250527"
    val lines = (0 until 40).map { i =>
      val minute = (i * 17) % 40
      val component = Seq("DBMSSQL", "CONN", "EXCP", "SDBL")(i % 4)
      f"$minute%02d:0${i % 10}.100000-$i,$component,3,Usr=u$h-$i\n"
    }
    f"$day${h % 24}%02d.log" -> lines.mkString
  }.toMap)

  test("sink files keep the MergeTree ORDER BY: every file is sorted by EventTime") {
    val dir = shuffledHours(12)
    val outDir = Files.createTempDirectory("graft-sink-order").toString
    val rows = LogPump.pumpBatch(spark, dir.toString)
    LogPump.writeRoutedExactlyOnce(rows,
      Map("DBMSSQL" -> "sql_logs", "EXCP" -> "excp_logs"), "logs", outDir, 0L)
    val files = sinkFiles(outDir)
    // three tables × two EventDates, one file each
    assert(files.map(f => f.substring(0, f.lastIndexOf('/'))).distinct.size == 6, files)
    files.foreach { f =>
      val times = spark.read.parquet(s"$outDir/$f").select("EventTime")
        .collect().map(_.getTimestamp(0).getTime).toSeq
      assert(times.size > 1 && times == times.sorted, s"$f is not in EventTime order")
    }
    assert(files.map(f => spark.read.parquet(s"$outDir/$f").count()).sum == 12 * 40)
  }

  test("publish: a stale staging dir of a crashed attempt is replaced; nothing stays staged") {
    val dir = shuffledHours(2)
    val outDir = Files.createTempDirectory("graft-sink-stale").toString
    // debris of a crashed attempt at batch 3: a torn parquet file where
    // the publish step looks, and junk beside it
    val torn = java.nio.file.Paths.get(
      s"$outDir/_staging/batch_id=3/__route=0/EventDate=2025-05-26")
    Files.createDirectories(torn)
    Files.writeString(torn.resolve("part-00000-torn.c000.snappy.parquet"), "garbage")
    Files.writeString(torn.getParent.getParent.resolve("junk"), "garbage")
    val rows = LogPump.pumpBatch(spark, dir.toString)
    LogPump.writeRoutedExactlyOnce(rows, Map("DBMSSQL" -> "sql_logs"), "logs", outDir, 3L)
    assert(!Files.exists(java.nio.file.Paths.get(s"$outDir/_staging")))
    assert(sinkFiles(outDir).forall(f => !f.contains("torn")))
    assert(spark.read.parquet(s"$outDir/sql_logs").count() == 2 * 10)
    assert(spark.read.parquet(s"$outDir/logs").count() == 2 * 30)
    assert(spark.read.parquet(s"$outDir/logs").select("batch_id").distinct()
      .collect().map(_.getInt(0)).toSeq == Seq(3))
  }

  test("publish: a replayed batch id replaces its own batch, other batches stay") {
    val outDir = Files.createTempDirectory("graft-sink-replay").toString
    val all = LogPump.pumpBatch(spark, shuffledHours(2).toString)
    def users(): Seq[(Int, String)] = spark.read.parquet(s"$outDir/logs")
      .select("batch_id", "User").collect().map(r => (r.getInt(0), r.getString(1)))
      .toSeq.sorted
    LogPump.writeRoutedExactlyOnce(all, Map.empty, "logs", outDir, 0L)
    LogPump.writeRoutedExactlyOnce(all.filter("User = 'u0-1'"), Map.empty, "logs", outDir, 1L)
    assert(users().size == 81)
    // the replay of batch 0 carries other rows: they replace batch 0 whole
    LogPump.writeRoutedExactlyOnce(all.filter("User like 'u1-%'"), Map.empty, "logs", outDir, 0L)
    assert(users() == (Seq((1, "u0-1")) ++ (0 until 40).map(i => (0, s"u1-$i"))).sorted)
  }

  test("publish: files and dirs carry the stock modes; no _staging or _SUCCESS stays") {
    val outDir = Files.createTempDirectory("graft-sink-modes")
    val rows = LogPump.pumpBatch(spark, shuffledHours(2).toString)
    LogPump.writeRoutedExactlyOnce(rows, Map("DBMSSQL" -> "sql_logs"), "logs",
      outDir.toString, 0L)
    // what Hadoop's stock local FS gives a created file and dir
    val umask = FsPermission.getUMask(spark.sessionState.newHadoopConf())
    val fileMode = FsPermission.getFileDefault.applyUMask(umask).toShort.toInt
    val dirMode = FsPermission.getDirDefault.applyUMask(umask).toShort.toInt
    val st = Files.walk(outDir)
    val all = try st.iterator().asScala.filter(_ != outDir).toSeq finally st.close()
    val names = all.map(_.getFileName.toString)
    assert(names.exists(_.endsWith(".parquet")) &&
      names.exists(n => n.startsWith(".") && n.endsWith(".parquet.crc")), names)
    assert(!names.exists(n => n.contains("_staging") || n.contains("_SUCCESS")), names)
    all.foreach { p =>
      val mode = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
      val want = if (Files.isDirectory(p)) dirMode else fileMode
      assert(mode == want, s"$p: ${mode.toOctalString}, want ${want.toOctalString}")
    }
  }

  test("publish: an empty batch creates no table dir") {
    val outDir = Files.createTempDirectory("graft-sink-empty").toString
    val rows = LogPump.pumpBatch(spark, shuffledHours(2).toString).limit(0)
    LogPump.writeRoutedExactlyOnce(rows, Map("DBMSSQL" -> "sql_logs"), "logs", outDir, 0L)
    assert(new java.io.File(outDir).list().isEmpty)
  }

  test("publish: a table dir of the legacy EventDate= layout is refused") {
    val outDir = Files.createTempDirectory("graft-sink-legacy").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$outDir/logs/EventDate=2025-05-26"))
    val rows = LogPump.pumpBatch(spark, shuffledHours(2).toString)
    val e = intercept[IllegalStateException](
      LogPump.writeRoutedExactlyOnce(rows, Map.empty, "logs", outDir, 0L))
    assert(e.getMessage.contains("legacy single-level EventDate= layout"))
    assert(!Files.exists(java.nio.file.Paths.get(s"$outDir/logs/batch_id=0")))
  }
}
