package graft

import java.nio.file.Files
import java.time.{Instant, ZoneId}

import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Transform
import graft.model.LogEntry
import graft.pipeline.LogPump

/** `etl.Transform.withReason` against the expression tree it replaced
  * (`TransformOracle`): all 17 columns, compared both ways with
  * `exceptAll`, over the LogPumpSpec fixtures and seeded fuzzed
  * (Timestamp, LogTimestamp) pairs, in three session time zones.
  */
class TransformSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Zones = Seq("UTC", "Europe/Moscow", "America/New_York")

  /** A session of its own with `zone` as the session time zone. */
  private def inZone(zone: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", zone)
    s
  }

  /** The LogPumpSpec fixture files, plus DST gap and overlap hours. */
  private val fixtures: Seq[Map[String, String]] = Seq(
    Map(
      "25052607.log" ->
        ("00:03.310025-1327862,DBMSSQL,5,p:processName=srv1,t:clientID=17,t:connectID=55," +
          "SessionID=901,Usr=ivanov,DataBase=acc,Rows=10,RowsAffected=2,Sql='SELECT 1\n" +
          "FROM t',Context='Ctx line1\nline2'\n00:04.500000-77,CONN,3,Usr=petrov\n"),
      "25052608.log" -> "15:59.999999-1,EXCP,2,Usr=sidorov,DataBase=hr\n"),
    Map(
      "2505260a.log" -> "00:01.123456-5,CONN,3,Usr=a\n",
      "250526.log" -> "00:01.123456-5,CONN,3,Usr=b\n",
      "25059907.log" -> "00:01.123456-5,CONN,3,Usr=c\n",
      "25052607.log" -> ("garbage first line\n99:99.123456-5,CONN,3,Usr=d\n" +
        "00:02.123456-5,CONN,3,Usr=ok\n")),
    Map("25052600.log" -> "\uFEFF00:01.123456-5,CONN,3,Usr=bom\n"),
    Map("25052601.log" -> "00:01.12-99999999999,CONN,3,Usr=x\n00:02.50-3,CONN,3,Usr=y\n"),
    Map("25052601.log" -> "00:01.123456-5,CONN,3,Usr=x\n00:02.5-3,CONN,3,Usr=y\n"),
    Map("25052600.log" -> "00:01.123456-5,CONN,3,SessionID=4294967297\n"),
    (0 until 50).map { f =>
      f"250601${f % 24}%02d-$f.log" -> (0 until 200).map { r =>
        f"00:${r % 60}%02d.${100000 + r}%06d-$r,CONN,3,Usr=u${f}_$r,SessionID=${f * 1000 + r}"
      }.mkString("", "\n", "\n")
    }.toMap,
    Map(
      "25030902.log" -> "30:00.000000-1,CONN,3,Usr=gap\n59:59.999999-2,CONN,3,Usr=gap\n",
      "25110201.log" -> "30:00.000000-3,CONN,3,Usr=overlap\n",
      "24022923.log" -> "59:59.999999-4,CONN,3,Usr=leap\n",
      "25022900.log" -> "00:00.000001-5,CONN,3,Usr=noleap\n"))

  /** Every fixture map read through the techlog connector, unioned. */
  private def fixtureEntries(s: SparkSession): DataFrame =
    fixtures.map { files =>
      val dir = Files.createTempDirectory("graft-transform")
      files.foreach { case (name, content) => Files.writeString(dir.resolve(name), content) }
      s.read.format("techlog").load(dir.toString)
    }.reduce(_ unionByName _)

  /** Seeded (Timestamp, LogTimestamp) pairs around the shapes the
    * transform tells apart: out-of-range fields, signs, short names,
    * BOMs, non-ASCII digits, surrogate pairs, DST days, nulls, and a
    * few the oracle throws on under ANSI mode; generated until `n` of
    * them are pairs it does not throw on. No generated string ends in a
    * line terminator: there the oracle's `$` matches before it and its
    * casts trim it, which no parsed record can reach.
    */
  private def fuzzPairs(seed: Long, n: Int): Seq[(String, String)] = {
    val r = new scala.util.Random(seed)
    def pick[T](xs: T*): T = xs(r.nextInt(xs.length))
    def digits(k: Int): String = Seq.fill(k)(('0' + r.nextInt(10)).toChar).mkString
    def num(bound: Int): String = f"${r.nextInt(bound)}%02d"
    val junk = Seq("a", " ", "+", "-", ":", ".", "\uFEFF", "é", "😀", "٣", "0", "9")
    def mutate(s: String): String =
      if (s.isEmpty || r.nextInt(4) > 0) s else {
        val i = r.nextInt(s.length)
        r.nextInt(3) match {
          case 0 => s.substring(0, i) + pick(junk: _*) + s.substring(i + 1)
          case 1 => s.substring(0, i) + s.substring(i + 1)
          case _ => s.substring(0, i) + pick(junk: _*) + s.substring(i)
        }
      }
    def name(): String = {
      val stem = r.nextInt(10) match {
        case 0 => pick("25030902", "25030901", "25030903", "25110201", "25110200", "24033100")
        case 1 => digits(2) + num(14) + num(33) + pick("+7", "-0", "-5", "+", "7", "24", "99")
        case _ => digits(2) + f"${1 + r.nextInt(12)}%02d" + f"${1 + r.nextInt(28)}%02d" + num(24)
      }
      val full = mutate(stem + pick(".log", "-1.log", ""))
      if (r.nextInt(10) == 0) full.take(r.nextInt(10)) else full
    }
    def logTimestamp(): String = {
      val time = num(pick(60, 100)) + ":" + num(pick(60, 62)) + "." + digits(1 + r.nextInt(8))
      val dur = pick(digits(1 + r.nextInt(10)), "4294967295", "4294967296", "0000000004294967295",
        digits(11 + r.nextInt(28)), "", "+5", "12a", "1-2", "0", "0" * 40 + "7",
        digits(39 + r.nextInt(3)))
      mutate(pick("", "", "\uFEFF", "\uFEFF\uFEFF", "x", "1:", "12:3.") + time +
        pick("-", "-", "-", "-", "-", "-", "-", "-", "-", "") + dur + pick("", "", ",", "7"))
    }
    val pairs = Seq.newBuilder[(String, String)]
    var safe = 0
    while (safe < n) {
      val lt = if (r.nextInt(100) == 0) null else logTimestamp()
      if (!TransformOracle.throwsOn(lt)) safe += 1
      pairs += ((if (r.nextInt(100) == 0) null else name(), lt))
    }
    pairs.result()
  }

  private lazy val fuzz: Seq[LogEntry] = fuzzPairs(20261020L, 100000).zipWithIndex.map {
    case ((fn, lt), i) =>
      LogEntry(fn, lt, cycle(i, "CONN", "DBMSSQL", "EXCP"), 3, "", "", "p", 1L, i.toLong, "",
        "", 7L, i.toLong * 65537L, s"u$i", "", "db", 0L, 0L, "", i, -i, "", "", "",
        Instant.EPOCH)
  }
  private def cycle(i: Int, xs: String*): String = xs(i % xs.length)

  private def assertSameRows(entries: DataFrame): Unit = {
    val ours = Transform.withReason(entries)
    val oracle = TransformOracle.withReason(entries)
    assert(ours.columns.length == 17)
    val extra = ours.exceptAll(oracle).limit(5).collect()
    val missing = oracle.exceptAll(ours).limit(5).collect()
    assert(extra.isEmpty && missing.isEmpty,
      s"\nnot in the oracle: ${extra.mkString("\n")}\nonly in the oracle: ${missing.mkString("\n")}")
  }

  /** Records the oracle does not throw on are compared under ANSI mode;
    * the rest against the oracle without it, where they read as
    * Duration 0. Returns the two counts.
    */
  private def assertSameAsOracle(entries: DataFrame): (Long, Long) = {
    val throws = udf((lt: String) => TransformOracle.throwsOn(lt))
    val (safe, poison) = (entries.filter(!throws(col("LogTimestamp"))),
      entries.filter(throws(col("LogTimestamp"))))
    val s = entries.sparkSession
    assert(s.conf.get("spark.sql.ansi.enabled") == "true")
    assertSameRows(safe)
    s.conf.set("spark.sql.ansi.enabled", "false")
    try assertSameRows(poison) finally s.conf.set("spark.sql.ansi.enabled", "true")
    (safe.count(), poison.count())
  }

  Zones.foreach { zone =>
    test(s"equals the expression tree on the LogPumpSpec fixtures in $zone") {
      val (safe, poison) = assertSameAsOracle(fixtureEntries(inZone(zone)).cache())
      assert(safe > 10000 && poison == 1) // the leading "garbage first line"
    }

    test(s"equals the expression tree on 100k fuzzed pairs in $zone") {
      val s = inZone(zone)
      val entries = s.createDataset(s.sparkContext.parallelize(fuzz, 4))(Encoders.product[LogEntry])
        .toDF().cache()
      val (safe, poison) = assertSameAsOracle(entries)
      assert(safe == 100000 && poison > 1000)
      // the fuzz reaches every reason
      assert(Transform.withReason(entries).select("drop_reason").distinct().count() == 5)
    }
  }

  test("a local time in the New York spring-forward gap moves forward by the gap") {
    val ny = ZoneId.of("America/New_York")
    val r = Transform.derive("25030902.log", "30:00.000000-1", ny)
    assert(r.getLong(1) == Instant.parse("2025-03-09T07:30:00Z").toEpochMilli * 1000L)
    assert(r.getString(3) == "ok")
  }

  test("output schema is unchanged, nullability included") {
    val entries = fixtureEntries(spark)
    assert(Transform.withReason(entries).schema == TransformOracle.withReason(entries).schema)
    assert(Transform(entries).schema ==
      TransformOracle.withReason(entries).drop("drop_reason").schema)
  }

  test("one UDF call per record, and an EventType filter still reaches the techlog scan") {
    val dir = Files.createTempDirectory("graft-transform-push")
    Files.writeString(dir.resolve("25052600.log"),
      "00:01.123456-5,DBMSSQL,3,Usr=a\n00:02.123456-5,CONN,3,Usr=b\n")
    val rows = LogPump.pumpBatch(spark, dir.toString).filter(col("EventType") === "CONN")
    val plan = rows.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(Component,CONN)"), plan)
    val udfs = rows.queryExecution.optimizedPlan.flatMap(_.expressions)
      .flatMap(_.collect { case u: ScalaUDF => u })
    assert(udfs.size == 1, rows.queryExecution.optimizedPlan)
    assert(rows.select("User").collect().map(_.getString(0)).toSeq == Seq("b"))
  }
}
