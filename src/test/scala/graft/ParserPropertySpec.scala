package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.parse.TechLogParser._

/** Property-based round-trip (SURVEY.md §5): render a random record in
  * the 1C wire format → parse → all fields recovered; plus the Go
  * strconv coercion laws (clamp on range, zero on syntax).
  *
  * Generators stay inside the format's unambiguous alphabet (the
  * reference's naive comma-split header cannot represent commas or
  * '=' in values — that lossiness is itself covered by example-based
  * tests of the quirks).
  */
class ParserPropertySpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  private val word: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString).map(_.take(20))
  private val sqlText: Gen[String] = // no quotes/backslashes/dashes (escape+scrub paths)
    Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.const(' '), Gen.const('\n')))
      .map(_.mkString.trim).map(_.replaceAll("\n+$", ""))
  private val uint32Gen: Gen[Long] = Gen.chooseNum(0L, 4294967295L)

  private case class RandomRecord(
      comp: String, sev: Int, process: String, pname: String,
      osThread: Long, clientId: Long, usr: String, sessionId: Long,
      rows: Int, sql: String, ctx: String)

  private val recordGen: Gen[RandomRecord] = for {
    comp <- word; sev <- Gen.chooseNum(0, 255)
    process <- word; pname <- word
    osThread <- uint32Gen; clientId <- uint32Gen
    usr <- word; sessionId <- uint32Gen
    rows <- Gen.chooseNum(Int.MinValue, Int.MaxValue)
    sql <- sqlText; ctx <- sqlText
  } yield RandomRecord(comp, sev, process, pname, osThread, clientId,
    usr, sessionId, rows, sql, ctx)

  test("round-trip: render → parseLine recovers every field") {
    val prop = Prop.forAll(recordGen) { r =>
      val logTs = "00:03.310025-1327862"
      val record =
        s"$logTs,${r.comp},${r.sev},process=${r.process},p:processName=${r.pname}," +
          s"OSThread=${r.osThread},t:clientID=${r.clientId},Usr=${r.usr}," +
          s"SessionID=${r.sessionId},Rows=${r.rows},Sql='${r.sql}',Context='${r.ctx}'"
      val e = parseLine(record.split("\n", -1).toSeq)
      e.LogTimestamp == logTs &&
        e.Component == r.comp &&
        e.Severity == r.sev &&
        e.Process == r.process &&
        e.ProcessName == r.pname &&
        e.OSThread == r.osThread &&
        e.ClientID == r.clientId &&
        e.User == r.usr &&
        e.SessionID == r.sessionId &&
        e.Rows == r.rows &&
        e.SQL == r.sql &&
        e.Context == r.ctx
    }
    check(prop)
  }

  test("coercion law: unsigned parse clamps at the type max (Go strconv)") {
    check(Prop.forAll(Gen.chooseNum(0L, Long.MaxValue)) { n =>
      val expected = math.min(n, 4294967295L)
      parseUint32(n.toString) == expected
    })
  }

  test("coercion law: any non-digit input parses to 0") {
    val junk = Gen.nonEmptyListOf(
      Gen.oneOf(Gen.alphaChar, Gen.oneOf('.', '-', '+', ' '))).map(_.mkString)
    check(Prop.forAll(junk) { s =>
      parseUint32(s) == 0L && parseUint8(s) == 0
    })
  }

  test("coercion law: int32 clamps at both ends") {
    check(Prop.forAll(Gen.chooseNum(Long.MinValue + 1, Long.MaxValue)) { n =>
      val expected =
        if (n > Int.MaxValue) Int.MaxValue
        else if (n < Int.MinValue) Int.MinValue
        else n.toInt
      parseInt32(n.toString) == expected
    })
  }

  test("coercion law: digit strings up to 25 digits parse as BigInt arithmetic clamps them") {
    val digitsGen = Gen.choose(1, 25).flatMap(k => Gen.listOfN(k, Gen.numChar).map(_.mkString))
    val signed = for {
      sign <- Gen.oneOf("", "", "+", "-"); ds <- digitsGen
    } yield sign + ds
    def clamp(v: BigInt, lo: BigInt, hi: BigInt): BigInt = v.max(lo).min(hi)
    check(Prop.forAll(signed) { s =>
      val unsigned = if (s.head == '+' || s.head == '-') None else Some(BigInt(s))
      unsigned.fold(parseUint64(s) == 0L && parseUint32(s) == 0L && parseUint8(s) == 0) { v =>
        BigInt(parseUint64(s)) == clamp(v, 0, Long.MaxValue) &&
          BigInt(parseUint32(s)) == clamp(v, 0, 4294967295L) &&
          BigInt(parseUint8(s)) == clamp(v, 0, 255)
      } && BigInt(parseInt32(s)) == clamp(BigInt(s), Int.MinValue, Int.MaxValue)
    })
  }
}
