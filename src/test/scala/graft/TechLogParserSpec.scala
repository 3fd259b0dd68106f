package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.parse.TechLogParser._

/** Parser edge cases from SURVEY.md §5 — each encodes a branch of the
  * reference's parsing code (file:line cited per test).
  */
class TechLogParserSpec extends AnyFunSuite {

  val fullRecord: Seq[String] = Seq(
    "00:03.310025-1327862,DBMSSQL,5,process=rphost,p:processName=server1," +
      "OSThread=4242,t:clientID=17,t:applicationName=1CV8C,t:computerName=HOST01," +
      "t:connectID=55,SessionID=901,Usr=ivanov,DBMS=DBMSSQL,DataBase=accounting," +
      "Trans=1,dbpid=3344,Rows=10,RowsAffected=0,Sql='SELECT T1.F1",
    "FROM dbo.tbl T1 WHERE T1.D > 2025-05-26 07:00:00',Context='Документ.Продажа.Форма",
    ".Модуль : строка 42'")

  test("full record: positional + k=v header fields (parser.go:68-88)") {
    val e = parseLine(fullRecord)
    assert(e.LogTimestamp == "00:03.310025-1327862")
    assert(e.Component == "DBMSSQL")
    assert(e.Severity == 5)
    assert(e.Process == "rphost")
    assert(e.ProcessName == "server1")
    assert(e.OSThread == 4242L)
    assert(e.ClientID == 17L)
    assert(e.ApplicationName == "1CV8C")
    assert(e.ComputerName == "HOST01")
    assert(e.ConnectID == 55L)
    assert(e.SessionID == 901L)
    assert(e.User == "ivanov")
    assert(e.DBMS == "DBMSSQL")
    assert(e.Database == "accounting")
    assert(e.Trans == 1L)
    assert(e.DBPID == 3344L)
    assert(e.Rows == 10)
    assert(e.RowsAffected == 0)
  }

  test("SQL extraction scrubs embedded timestamps and trims (sql_extractor.go:25,42)") {
    val e = parseLine(fullRecord)
    assert(e.SQL == "SELECT T1.F1\nFROM dbo.tbl T1 WHERE T1.D >")
  }

  test("multi-line Context to the LAST quote (context_extractor.go:12)") {
    val e = parseLine(fullRecord)
    assert(e.Context == "Документ.Продажа.Форма\n.Модуль : строка 42")
  }

  test("no Sql= → empty SQL, Context still extracted (parser.go:52-54)") {
    val (h, sql, ctx) = parseLogRecord("00:01.5-2,CONN,3,Usr=x,Context='a b'")
    assert(sql == "")
    assert(ctx == "a b")
    assert(h("Usr") == "x")
  }

  test("empty payload after Sql= → empty SQL AND empty Context (parser.go:58-60)") {
    val (_, sql, ctx) = parseLogRecord("00:01.5-2,CONN,3,Sql=")
    assert(sql == "")
    assert(ctx == "")
  }

  test("unterminated SQL quote → rest of record, scrubbed (sql_extractor.go:40-44)") {
    val (_, sql, _) = parseLogRecord("00:01.5-2,X,3,Sql='SELECT 1 WHERE d=2024-01-02 10:11:12")
    assert(sql == "SELECT 1 WHERE d=")
  }

  test("backslash escapes: \\' kept as ', backslash consumed (sql_extractor.go:29-37)") {
    val (sql, after) = extractSql("""a\'b\\c' tail""", '\'')
    assert(sql == """a'b\c""")
    assert(after == " tail")
  }

  test("dynamic quote char: whatever follows Sql= (parser.go:61)") {
    val (_, sql, _) = parseLogRecord("00:01.5-2,X,3,Sql=\"SELECT 2\" rest")
    assert(sql == "SELECT 2")
  }

  test("no Context → empty (context_extractor.go:8-10)") {
    val (_, _, ctx) = parseLogRecord("00:01.5-2,CONN,3,Usr=x")
    assert(ctx == "")
  }

  test("Context unterminated → whole remainder (context_extractor.go:13-15)") {
    assert(extractContext(",Context='abc def") == "abc def")
  }

  test("header values trimmed of spaces and single quotes (parser.go:84)") {
    val h = parseSimpleHeader("00:01.5-2,CONN,3,Usr=' petrov ',k= v ")
    assert(h("Usr") == "petrov")
    assert(h("k") == "v")
  }

  test("missing keys default to empty string (parser.go:91-96)") {
    val e = parseLine(Seq("00:01.5-2,CONN,3"))
    assert(e.User == "" && e.DBMS == "" && e.SQL == "" && e.File == "")
  }

  test("numeric coercions: syntax error → 0 (parser.go:98-116)") {
    val e = parseLine(Seq("00:01.5-2,CONN,xx,Rows=abc,SessionID=1.5,OSThread=-4"))
    assert(e.Severity == 0 && e.Rows == 0 && e.SessionID == 0L && e.OSThread == 0L)
  }

  test("numeric coercions: range error clamps (Go strconv.ParseUint/Int)") {
    assert(parseUint8("300") == 255)
    assert(parseUint32("99999999999") == 4294967295L)
    assert(parseInt32("99999999999") == Int.MaxValue)
    assert(parseInt32("-99999999999") == Int.MinValue)
  }

  test("unsigned parse rejects sign prefixes like Go ParseUint") {
    assert(parseUint32("+5") == 0L)
    assert(parseUint32("-5") == 0L)
    assert(parseInt32("+5") == 5)
    Seq("+0", "-0", "+255", "-1", "+9223372036854775807", "-9223372036854775808").foreach { s =>
      assert(parseUint8(s) == 0 && parseUint32(s) == 0L && parseUint64(s) == 0L, s)
    }
  }

  test("numeric coercions at Long.MaxValue ± 1 and past 20 digits") {
    assert(parseUint64("9223372036854775806") == Long.MaxValue - 1)
    assert(parseUint64("9223372036854775807") == Long.MaxValue)
    assert(parseUint64("9223372036854775808") == Long.MaxValue)
    assert(parseUint64("18446744073709551616") == Long.MaxValue) // 2^64
    assert(parseUint64("123456789012345678901234567890") == Long.MaxValue)
    assert(parseUint32("123456789012345678901234567890") == 4294967295L)
    assert(parseUint8("123456789012345678901234567890") == 255)
    assert(parseUint32("00000000000000000000004294967295") == 4294967295L)
    assert(parseUint32("00000000000000000000000000000007") == 7L)
    assert(parseInt32("9223372036854775808") == Int.MaxValue)
    assert(parseInt32("-9223372036854775809") == Int.MinValue)
    assert(parseInt32("+123456789012345678901234567890") == Int.MaxValue)
    assert(parseInt32("-123456789012345678901234567890") == Int.MinValue)
    assert(parseInt32("2147483648") == Int.MaxValue)
    assert(parseInt32("-2147483648") == Int.MinValue)
    assert(parseInt32("-2147483649") == Int.MinValue)
    assert(parseInt32("-00000000000000000000002147483647") == -Int.MaxValue)
  }

  test("record boundary regex is unanchored (scan.go:16-21)") {
    assert(isNewLogRecord("00:03.310025-1327862,DBMSSQL,5"))
    assert(isNewLogRecord("prefix 00:03.31 then - dash"))
    assert(!isNewLogRecord("SELECT * FROM t"))
    assert(!isNewLogRecord("00:03.3 no dash after")) // \d{2,} needs 2+ frac digits
  }
}
