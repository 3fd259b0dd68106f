package graft

import java.nio.file.{Files, Paths}

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
    val confPath = Files.createTempDirectory("graft-main-conf").resolve("config.yaml")
    Files.writeString(confPath,
      s"""LogDirectoryMap:
         |  Map1: "$d1"
         |  Map2: "$d2"
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
    val cfg = graft.config.PumpConfig.load(confPath.toString)
      .fold(e => fail(e), identity)
    val metrics = graft.streaming.PumpMetrics.attach(spark)
    val queries = PumpMain.startAll(spark, cfg, Some(out), ckpt)
    try {
      assert(queries.size == 2) // one pump per directory
      // DBMSSQL routes to sql_logs (clickhouse.go:64-72); CONN falls
      // back to the default table — each from its own directory's pump
      assert(eventually(90000) {
        def u(t: String): Set[String] =
          try spark.read.parquet(s"$out/$t").collect()
            .map(_.getAs[String]("User")).toSet
          catch { case _: Throwable => Set.empty }
        u("sql_logs") == Set("a") && u("logs") == Set("b")
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
    val cfg = graft.config.PumpConfig(
      LogDirectoryMap = Map("Map1" -> dirs(0).toString, "Map2" -> dirs(1).toString),
      FilePattern = "*.log", BatchInterval = 1,
      ClickHouse = graft.config.ClickHouseConfig(DefaultTable = "logs"))
    val queries = PumpMain.startAll(spark, cfg, Some(out), ckpt)
    def users(): Seq[String] =
      try spark.read.parquet(s"$out/logs").collect()
        .map(_.getAs[String]("User")).toSeq.sorted
      catch { case _: Throwable => Seq.empty }
    try {
      val all = Seq("a1", "a2", "b1", "b2")
      assert(eventually(90000) { users() == all }, s"got ${users()}")
      Thread.sleep(1000) // later triggers must neither drop nor repeat a row
      assert(users() == all)
    } finally queries.foreach(_.stop())
  }
}
