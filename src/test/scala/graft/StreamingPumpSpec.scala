package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Transform

class StreamingPumpSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def eventually(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline) {
      if (cond) return true
      Thread.sleep(200)
    }
    cond
  }

  private def users(table: String): Set[String] =
    spark.table(table).collect().map(_.getAs[String]("User")).toSet

  /** StreamingPump.pumpStream's composition with the connector's idle
    * window set: the holdback and idle-flush specs pin `idleAdmitMs`
    * far above or below the 2 s default.
    */
  private def pumpStream(dir: String, idleAdmitMs: Long): DataFrame =
    Transform(spark.readStream.format("techlog")
      .option("pathGlobFilter", "*.log")
      .option("idleAdmitMs", idleAdmitMs)
      .load(dir))

  test("streaming JDBC sink: idempotent routed append end to end (Derby)") {
    val dir = Files.createTempDirectory("graft-stream-jdbc")
    Files.writeString(dir.resolve("25052600.log"),
      "00:01.123456-5,DBMSSQL,3,Usr=a\n00:02.123456-5,CONN,3,Usr=b\n")
    val url = s"jdbc:derby:memory:sjdbc${System.nanoTime()};create=true"
    val ckpt = Files.createTempDirectory("graft-stream-jdbc-ck").toString
    val confPath = Files.createTempDirectory("graft-stream-jdbc-conf")
      .resolve("config.yaml")
    Files.writeString(confPath,
      s"""LogDirectoryMap:
         |  Main: "$dir"
         |FilePattern: "*.log"
         |BatchSize: 100
         |BatchInterval: 1
         |ClickHouse:
         |  Address: "localhost:9000"
         |  Database: "logs_db"
         |  DefaultTable: "LOGS"
         |  TableMap:
         |    DBMSSQL: "SQL_LOGS"
         |""".stripMargin)
    // the production entry point, full 16-column row, Derby standing in
    // for ClickHouse through the URL override
    val queries = PumpMain.startAll(spark, confPath.toString, None, ckpt,
      jdbcUrlOverride = Some(url))
    try {
      assert(eventually(90000) {
        try spark.read.format("jdbc").option("url", url)
          .option("dbtable", "SQL_LOGS").load().count() == 1 &&
          spark.read.format("jdbc").option("url", url)
            .option("dbtable", "LOGS").load().count() == 1
        catch { case _: Throwable => false } // tables not created yet
      })
      // commit marker recorded for the batch
      assert(spark.read.format("jdbc").option("url", url)
        .option("dbtable", "graft_batch_commits").load().count() >= 1)
    } finally queries.foreach(_.stop())
  }

  test("boundary completes a record; the trailing record is held in state") {
    val dir = Files.createTempDirectory("graft-stream1")
    val cp = Files.createTempDirectory("graft-stream1-cp")
    Files.writeString(dir.resolve("25052607.log"),
      "00:03.310025-42,DBMSSQL,5,Usr=ivanov\n" +
        "00:04.500000-7,CONN,3,Usr=petrov\n")
    val q = pumpStream(dir.toString, idleAdmitMs = 600000) // effectively never
      .writeStream.outputMode("append")
      .format("memory").queryName("pump_hold")
      .option("checkpointLocation", cp.toString)
      .trigger(Trigger.ProcessingTime("250 milliseconds"))
      .start()
    try {
      assert(eventually(90000)(users("pump_hold") == Set("ivanov")))
      Thread.sleep(1000) // give it more batches: petrov must STILL be held
      assert(users("pump_hold") == Set("ivanov"))
      val r = spark.table("pump_hold").collect()(0)
      assert(r.getAs[Long]("Duration") == 42L)
    } finally q.stop()
  }

  test("idle timeout flushes the pending record (tail.go:58-65 2s flush)") {
    val dir = Files.createTempDirectory("graft-stream2")
    val cp = Files.createTempDirectory("graft-stream2-cp")
    Files.writeString(dir.resolve("25052608.log"),
      "00:10.100000-1,EXCP,2,Usr=sidorov\n")
    val q = pumpStream(dir.toString, idleAdmitMs = 300)
      .writeStream.outputMode("append")
      .format("memory").queryName("pump_flush")
      .option("checkpointLocation", cp.toString)
      .trigger(Trigger.ProcessingTime("250 milliseconds"))
      .start()
    try {
      assert(eventually(90000)(users("pump_flush") == Set("sidorov")),
        s"timeout flush missing, got ${users("pump_flush")}")
    } finally q.stop()
  }

  test("processAllAvailable returns once a quiesced backlog is sunk, each record once") {
    val dir = Files.createTempDirectory("graft-stream-drain")
    val cp = Files.createTempDirectory("graft-stream-drain-cp")
    // files last written long before the 2 s idle window: nothing is
    // held back, so the first trigger admits every record
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3600000L)
    (0 until 3).foreach { h =>
      val f = dir.resolve(f"250526$h%02d.log")
      Files.writeString(f, (1 to 4).map { i =>
        f"00:0$i.100000-$i,CONN,3,Usr=u${h}_$i,Context='l1\nl2'"
      }.mkString("", "\n", "\n"))
      Files.setLastModifiedTime(f, old)
    }
    val q = graft.streaming.StreamingPump.pumpStream(spark, dir.toString)
      .writeStream.outputMode("append")
      .format("memory").queryName("pump_drain")
      .option("checkpointLocation", cp.toString)
      .trigger(Trigger.ProcessingTime("250 milliseconds"))
      .start()
    try {
      val drained = new Thread(() => q.processAllAvailable())
      drained.start()
      drained.join(60000)
      assert(!drained.isAlive, "processAllAvailable did not return within 60 s")
      val got = spark.table("pump_drain").collect().map(_.getAs[String]("User")).toSeq
      assert(got.sorted == (for (h <- 0 until 3; i <- 1 to 4) yield s"u${h}_$i").sorted)
    } finally q.stop()
  }
}
