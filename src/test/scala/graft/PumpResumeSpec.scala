package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingPump

/** Checkpointed resume (reference C1-C4: offset store → Spark
  * checkpointLocation) and hot config reload (X1) — driven through
  * real restarted streaming queries with the parquet sink. The
  * `techlog` connector's byte offsets are the replayed source state.
  */
class PumpResumeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def eventually(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline) {
      if (cond) return true
      Thread.sleep(250)
    }
    cond
  }

  private def countOut(dir: String): Long =
    try spark.read.parquet(dir).count()
    catch { case _: Throwable => -1L }

  test("restart from checkpoint: already-pumped files are not re-ingested (C1-C4)") {
    val logs = Files.createTempDirectory("resume-logs")
    val cp = Files.createTempDirectory("resume-cp").toString
    val out = Files.createTempDirectory("resume-out").toString
    Files.writeString(logs.resolve("25052607.log"),
      "00:01.100000-1,CONN,3,Usr=a\n00:02.100000-2,CONN,3,Usr=b\n")

    def startQuery() = StreamingPump.pumpStream(spark, logs.toString)
      .writeStream.outputMode("append")
      .option("checkpointLocation", cp)
      .trigger(Trigger.ProcessingTime("250 milliseconds"))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // a plain append sink: a re-ingested file would show up as
        // extra rows, which an overwriting sink could hide
        batch.write.mode("append").parquet(s"$out/logs")
      }
      .start()

    val q1 = startQuery()
    try assert(eventually(90000)(countOut(s"$out/logs") == 2L),
      s"got ${countOut(s"$out/logs")}")
    finally q1.stop()

    Files.writeString(logs.resolve("25052608.log"),
      "00:03.100000-3,CONN,3,Usr=c\n")
    val q2 = startQuery()
    try {
      assert(eventually(90000)(countOut(s"$out/logs") == 3L),
        s"got ${countOut(s"$out/logs")}")
      Thread.sleep(1000) // extra batches must not re-ingest file 1
      assert(countOut(s"$out/logs") == 3L)
      val users = spark.read.parquet(s"$out/logs")
        .select("User").collect().map(_.getString(0)).sorted.toSeq
      assert(users == Seq("a", "b", "c"))
    } finally q2.stop()
  }

  test("injected crash after sink write, before checkpoint commit: restart skips the replayed batch — zero dups, zero losses") {
    val logs = Files.createTempDirectory("replay-logs")
    val cp = Files.createTempDirectory("replay-cp").toString
    val url = s"jdbc:derby:memory:replaydb${System.nanoTime()};create=true"
    // two records: the first is admitted on its boundary, the second is
    // held back until the file has been idle for the connector's 2 s
    Files.writeString(logs.resolve("25052607.log"),
      "00:01.100000-1,CONN,3,Usr=a\n00:02.100000-2,CONN,3,Usr=b\n")
    def rows(table: String) =
      try spark.read.format("jdbc").option("url", url)
        .option("dbtable", table).load()
        .collect().map(_.getAs[String]("User")).toSeq
      catch { case _: Throwable => Seq.empty[String] }
    val injected = new java.util.concurrent.atomic.AtomicBoolean(false)
    def startQuery(inject: Boolean) = StreamingPump.pumpStream(spark, logs.toString)
      .select("EventDate", "EventTime", "EventType", "User", "SessionID",
        "Duration")
      .writeStream.outputMode("append")
      .option("checkpointLocation", cp)
      .trigger(Trigger.ProcessingTime("250 milliseconds"))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val wrote = graft.pipeline.LogPump.idempotentJdbcBatch(
          batch, id, Map.empty, "LOGS", url)
        // the injection point: the sink committed THIS batch, the
        // checkpoint commit log has not yet recorded it — the exact
        // window the reference handles by dropping the batch
        // (batch.go:44-49) and we must handle by exactly-once replay
        if (inject && wrote && !batch.isEmpty &&
            injected.compareAndSet(false, true))
          throw new RuntimeException("injected crash between sink and commit log")
      }
      .start()

    val q1 = startQuery(inject = true)
    // the query must DIE from the injected crash, with the batch's
    // rows already in the sink
    assert(eventually(90000)(q1.exception.isDefined),
      "the injected crash must terminate the first run")
    assert(injected.get())
    val afterCrash = rows("LOGS")
    assert(afterCrash.nonEmpty, "the crashed batch's sink write must persist")

    // restart from the same checkpoint: the failed batch REPLAYS (its
    // offsets were logged, its commit was not) and the marker table
    // must skip it rather than double-append
    val q2 = startQuery(inject = false)
    try {
      Files.writeString(logs.resolve("25052608.log"),
        "00:03.100000-3,CONN,3,Usr=c\n")
      assert(eventually(90000)(rows("LOGS").sorted == Seq("a", "b", "c")),
        s"got ${rows("LOGS").sorted}")
      Thread.sleep(1000) // further triggers must not re-append anything
      val fin = rows("LOGS")
      assert(fin.sorted == Seq("a", "b", "c"), s"got ${fin.sorted}")
      assert(fin.distinct.size == fin.size, "zero duplicates required")
    } finally q2.stop()
  }

  test("parquet sink exactly-once: a replayed batch rewrites its own batch_id dir, never double-appends") {
    val logs = Files.createTempDirectory("pqreplay-logs")
    val cp = Files.createTempDirectory("pqreplay-cp").toString
    val out = Files.createTempDirectory("pqreplay-out").toString
    Files.writeString(logs.resolve("25052607.log"),
      "00:01.100000-1,CONN,3,Usr=a\n00:02.100000-2,CONN,3,Usr=b\n")
    def users(): Seq[String] =
      try spark.read.parquet(s"$out/logs")
        .select("User").collect().map(_.getString(0)).toSeq
      catch { case _: Throwable => Seq.empty }
    val injected = new java.util.concurrent.atomic.AtomicBoolean(false)
    def startQuery(inject: Boolean) = StreamingPump.pumpStream(spark, logs.toString)
      .writeStream.outputMode("append")
      .option("checkpointLocation", cp)
      .trigger(Trigger.ProcessingTime("250 milliseconds"))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.pipeline.LogPump.writeRoutedExactlyOnce(
          batch, Map.empty, "logs", out, id)
        if (inject && !batch.isEmpty && injected.compareAndSet(false, true))
          throw new RuntimeException("injected crash between sink and commit log")
      }
      .start()
    val q1 = startQuery(inject = true)
    assert(eventually(90000)(q1.exception.isDefined))
    assert(injected.get())
    assert(users().nonEmpty, "the crashed batch's parquet write must persist")
    val q2 = startQuery(inject = false)
    try {
      Files.writeString(logs.resolve("25052608.log"),
        "00:03.100000-3,CONN,3,Usr=c\n")
      assert(eventually(90000)(users().sorted == Seq("a", "b", "c")),
        s"got ${users().sorted}")
      Thread.sleep(1000)
      val fin = users()
      assert(fin.sorted == Seq("a", "b", "c"), s"got ${fin.sorted}")
      assert(fin.distinct.size == fin.size, "zero duplicates required")
    } finally q2.stop()
  }

  test("hot config reload: TableMap changes apply at the next micro-batch (X1)") {
    val logs = Files.createTempDirectory("reload-logs")
    val cp = Files.createTempDirectory("reload-cp").toString
    val out = Files.createTempDirectory("reload-out").toString
    val cfgFile = Files.createTempFile("reload-cfg", ".yaml")
    def writeCfg(tableMap: String): Unit = Files.writeString(cfgFile,
      s"""LogDirectoryMap:
         |  Main: "${logs.toString}"
         |FilePattern: "*.log"
         |BatchSize: 100
         |BatchInterval: 1
         |ClickHouse:
         |  Address: "localhost:9000"
         |  Database: "logs_db"
         |  DefaultTable: "logs"
         |$tableMap
         |""".stripMargin)
    writeCfg("") // no TableMap: everything routes to the default table

    Files.writeString(logs.resolve("25052607.log"),
      "00:01.100000-1,DBMSSQL,3,Usr=a\n")
    // every directory's pump re-reads the routing at each micro-batch
    val queries = PumpMain.startAll(spark, cfgFile.toString, Some(out), cp)
    try {
      assert(eventually(90000)(countOut(s"$out/logs") == 1L))

      // operator retunes routing without restarting the query
      writeCfg("  TableMap:\n    DBMSSQL: \"sql_logs\"")
      Files.writeString(logs.resolve("25052608.log"),
        "00:02.100000-2,DBMSSQL,3,Usr=b\n")
      assert(eventually(90000)(countOut(s"$out/sql_logs") == 1L),
        s"sql_logs=${countOut(s"$out/sql_logs")} logs=${countOut(s"$out/logs")}")
      assert(countOut(s"$out/logs") == 1L) // first record stays in default
    } finally queries.foreach(_.stop())
  }
}
