package graft

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

/** The service entry point (reference cmd/app/main.go parity): config
  * load → one pump per configured directory → routed sink, stoppable.
  */
class PumpMainSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def eventually(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline) {
      if (cond) return true
      Thread.sleep(200)
    }
    cond
  }

  /** A scratch config.yaml pumping `dirs` (key → dir) to the default
    * table `logs`, DBMSSQL routed to `sql_logs`; returns its path.
    */
  private def writeConfig(dirs: Seq[(String, Path)]): String = {
    val confPath = Files.createTempDirectory("graft-main-conf").resolve("config.yaml")
    Files.writeString(confPath,
      s"""LogDirectoryMap:
         |${dirs.map { case (k, d) => s"""  $k: "$d"""" }.mkString("\n")}
         |FilePattern: "*.log"
         |BatchSize: 100
         |BatchInterval: 1
         |ClickHouse:
         |  Address: "localhost:9000"
         |  Database: "logs_db"
         |  DefaultTable: "logs"
         |  TableMap:
         |    DBMSSQL: "sql_logs"
         |""".stripMargin)
    confPath.toString
  }

  private def users(out: String, table: String): Seq[String] =
    try spark.read.parquet(s"$out/$table").collect()
      .map(_.getAs[String]("User")).toSeq.sorted
    catch { case _: Throwable => Seq.empty }

  test("jdbcUrl translates the reference's native endpoint to the JDBC HTTP port") {
    import graft.config.{ClickHouseConfig, PumpConfig}
    def cfg(addr: String) = PumpConfig(
      ClickHouse = ClickHouseConfig(Address = addr, Database = "logs_db"))
    // a reused reference config points at the native protocol port —
    // the JDBC driver speaks HTTP, so 9000 maps to 8123
    assert(PumpMain.jdbcUrl(cfg("localhost:9000")) ==
      "jdbc:clickhouse://localhost:8123/logs_db")
    // anything explicitly HTTP-ish passes through untouched
    assert(PumpMain.jdbcUrl(cfg("ch.example:8123")) ==
      "jdbc:clickhouse://ch.example:8123/logs_db")
  }

  test("startAll pumps every configured directory through the routed sink") {
    val d1 = Files.createTempDirectory("graft-main-d1")
    val d2 = Files.createTempDirectory("graft-main-d2")
    Files.writeString(d1.resolve("25052607.log"),
      "00:01.000001-1,DBMSSQL,3,process=rphost,Usr=a\n")
    Files.writeString(d2.resolve("25052607.log"),
      "00:02.000001-2,CONN,2,process=rphost,Usr=b\n")
    val out = Files.createTempDirectory("graft-main-out").toString
    val ckpt = Files.createTempDirectory("graft-main-ckpt").toString
    val conf = writeConfig(Seq("Map1" -> d1, "Map2" -> d2))
    val metrics = graft.streaming.PumpMetrics.attach(spark)
    val queries = PumpMain.startAll(spark, conf, Some(out), ckpt)
    try {
      assert(queries.size == 2) // one pump per directory
      // DBMSSQL routes to sql_logs (clickhouse.go:64-72); CONN falls
      // back to the default table — each from its own directory's pump
      assert(eventually(90000) {
        users(out, "sql_logs") == Seq("a") && users(out, "logs") == Seq("b")
      })
      // metrics surface: after the drain each pump's counters show its
      // one record and at least one data-carrying micro-batch (the
      // listener bus is async — wait for it to catch up)
      val ids = queries.map(_.id)
      assert(eventually(30000) { metrics.totalRows(ids) == 2 })
      assert(ids.forall(id => metrics.stats(id).exists(s =>
        s.rows == 1 && s.batches >= 1)))
      assert(metrics.totalBatches(ids) >= 2)
      val report = metrics.report(ids)
      assert(report.linesIterator.size == 2 && report.contains("rows=1"))
    } finally {
      queries.foreach(_.stop())
      graft.streaming.PumpMetrics.detach(spark, metrics)
    }
    // per-directory checkpoints exist and are disjoint
    assert(Files.exists(Paths.get(ckpt, "Map1")) &&
      Files.exists(Paths.get(ckpt, "Map2")))
  }

  test("startAll: directories routing to the same table keep each other's batches") {
    // batch ids restart at 0 in every pump query. Each directory's
    // first record is complete once the second one's header is read,
    // so both pumps' batch 0 routes a CONN row to the default table,
    // and neither may overwrite the other's batch_id=0
    val dirs = Seq("a", "b").map { u =>
      val d = Files.createTempDirectory(s"graft-main-same-$u")
      Files.writeString(d.resolve("25052607.log"),
        s"00:01.000001-1,CONN,2,Usr=${u}1\n00:02.000001-1,CONN,2,Usr=${u}2\n")
      d
    }
    val out = Files.createTempDirectory("graft-main-same-out").toString
    val ckpt = Files.createTempDirectory("graft-main-same-ckpt").toString
    val conf = writeConfig(Seq("Map1" -> dirs(0), "Map2" -> dirs(1)))
    val queries = PumpMain.startAll(spark, conf, Some(out), ckpt)
    try {
      val all = Seq("a1", "a2", "b1", "b2")
      assert(eventually(90000) { users(out, "logs") == all },
        s"got ${users(out, "logs")}")
      Thread.sleep(1000) // later triggers must neither drop nor repeat a row
      assert(users(out, "logs") == all)
    } finally queries.foreach(_.stop())
  }

  test("startAll: records appended to an already-ingested file reach the sink exactly once") {
    // 1C appends to the current-hour file; the reference tails it
    // (tail.go:27, Follow: true)
    val dir = Files.createTempDirectory("graft-main-append")
    val f = dir.resolve("25052607.log")
    def records(from: Int): String = (from until from + 3)
      .map(i => f"00:$i%02d.000001-$i,CONN,2,Usr=u$i\n").mkString
    Files.writeString(f, records(1))
    val out = Files.createTempDirectory("graft-main-append-out").toString
    val ckpt = Files.createTempDirectory("graft-main-append-ckpt").toString
    val queries = PumpMain.startAll(spark, writeConfig(Seq("Main" -> dir)),
      Some(out), ckpt)
    try {
      val first = (1 to 3).map(i => s"u$i")
      assert(eventually(90000) { users(out, "logs") == first },
        s"got ${users(out, "logs")}")
      Files.writeString(f, records(4), StandardOpenOption.APPEND)
      val all = (1 to 6).map(i => s"u$i")
      assert(eventually(90000) { users(out, "logs") == all },
        s"got ${users(out, "logs")}")
      Thread.sleep(3000) // later triggers must neither drop nor repeat a row
      assert(users(out, "logs") == all)
    } finally queries.foreach(_.stop())
  }

  test("startAll JDBC: a recreated checkpoint re-ingests instead of hitting the old batch markers") {
    // an operator deletes a directory's checkpoint and restarts at the
    // same path to re-ingest: batch ids restart at 0, and the first
    // run's markers must not make the new query skip its batches
    val dir = Files.createTempDirectory("graft-main-reingest")
    Files.writeString(dir.resolve("25052607.log"),
      "00:01.000001-1,CONN,2,Usr=a\n00:02.000001-2,CONN,2,Usr=b\n")
    val url = s"jdbc:derby:memory:reingest${System.nanoTime()};create=true"
    val ckpt = Files.createTempDirectory("graft-main-reingest-ckpt")
    val conf = writeConfig(Seq("Main" -> dir))
    def sunk(): Seq[String] =
      try spark.read.format("jdbc").option("url", url).option("dbtable", "logs")
        .load().collect().map(_.getAs[String]("User")).toSeq.sorted
      catch { case _: Throwable => Seq.empty } // table not created yet
    def run(expected: Seq[String]): Unit = {
      val queries = PumpMain.startAll(spark, conf, None, ckpt.toString,
        jdbcUrlOverride = Some(url))
      try assert(eventually(90000) { sunk() == expected }, s"got ${sunk()}")
      finally queries.foreach(_.stop())
    }
    run(Seq("a", "b"))
    val main = ckpt.resolve("Main")
    Files.walk(main).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
    run(Seq("a", "a", "b", "b"))
  }

  test("main's wait returns with the failure of one of two pumps") {
    // directory A's pump fails at its sink (sql_logs holds the legacy
    // layout the lake sink refuses) while directory B's keeps running
    val a = Files.createTempDirectory("graft-main-fail-a")
    Files.writeString(a.resolve("25052607.log"), "00:01.000001-1,DBMSSQL,3,Usr=a\n")
    val b = Files.createTempDirectory("graft-main-fail-b")
    Files.writeString(b.resolve("25052607.log"), "00:02.000001-2,CONN,2,Usr=b\n")
    val out = Files.createTempDirectory("graft-main-fail-out").toString
    Files.createDirectories(Paths.get(out, "sql_logs", "EventDate=2025-05-26"))
    val ckpt = Files.createTempDirectory("graft-main-fail-ckpt").toString
    spark.streams.resetTerminated() // forget queries other specs stopped
    val queries = PumpMain.startAll(spark, writeConfig(Seq("A" -> a, "B" -> b)),
      Some(out), ckpt)
    try {
      val waited = Future(PumpMain.awaitAny(spark))(scala.concurrent.ExecutionContext.global)
      val e = intercept[StreamingQueryException](Await.result(waited, 90.seconds))
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(c => String.valueOf(c.getMessage)
        .contains("legacy single-level EventDate= layout")), e.getMessage)
      assert(queries(0).exception.isDefined) // A, sorted first
      assert(queries(1).isActive && queries(1).exception.isEmpty)
    } finally queries.foreach(_.stop())
  }
}
