package graft.parse

import java.time.Instant

import graft.model.LogEntry

/** 1C technological-log record parser — a from-scratch Scala port of the
  * reference's record → `LogEntry` semantics (reference:
  * `internal/parser/parser.go`, `sql_extractor.go`,
  * `context_extractor.go`), preserving its quirks bit-for-bit:
  *
  *  - header split is a naive comma split; fields 0-2 are positional
  *    (`LogTimestamp`, `Component`, `Severity`), the rest `k=v` with the
  *    value trimmed of spaces AND single quotes (parser.go:68-88);
  *  - the SQL payload's quote char is whatever byte follows `Sql=`
  *    (parser.go:61); `\`-escapes are consumed (the backslash is
  *    dropped, the escaped char kept — sql_extractor.go:29-37);
  *  - embedded `YYYY-MM-DD HH:MM:SS` timestamps are scrubbed from the
  *    SQL text, then trimmed (sql_extractor.go:14,25);
  *  - `Context` runs from after `,Context='` to the LAST `'` of the
  *    remainder, or to the end if unterminated (context_extractor.go);
  *  - missing header keys → "" (parser.go:91-96); numeric fields parse
  *    with Go `strconv` semantics: syntax error → 0, range error →
  *    clamped to the type's max/min (parser.go:98-116).
  *
  * Pure functions, called per record by the techlog connector's
  * partition reader (`sources.TechLogFileReader`).
  */
object TechLogParser {

  private val TimestampScrub = """\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}""".r

  /** Record boundary test (reference: `internal/watcher/scan.go:16-21`).
    * Unanchored — any line CONTAINING `\d{2}:\d{2}\.\d{2,}.*-.*` starts
    * a new record, exactly like Go's `MatchString`.
    */
  private val RecordBoundary = """\d{2}:\d{2}\.\d{2,}.*-.*""".r.unanchored
  def isNewLogRecord(line: String): Boolean = RecordBoundary.matches(line)

  /** Split a raw record into (header map, sql, context) —
    * reference `parser.go:50-66`.
    */
  def parseLogRecord(raw: String): (Map[String, String], String, String) = {
    val sqlIdx = raw.indexOf("Sql=")
    if (sqlIdx == -1) {
      (parseSimpleHeader(raw), "", extractContext(raw))
    } else {
      val headerPart = raw.substring(0, sqlIdx)
      val sqlAndAfter = raw.substring(sqlIdx + 4)
      if (sqlAndAfter.isEmpty) {
        (parseSimpleHeader(headerPart), "", "")
      } else {
        val quote = sqlAndAfter.charAt(0)
        val (sqlText, afterSql) = extractSql(sqlAndAfter.substring(1), quote)
        (parseSimpleHeader(headerPart), sqlText, extractContext(afterSql))
      }
    }
  }

  /** Header tokenize → map — reference `parser.go:68-88`. */
  def parseSimpleHeader(headerRaw: String): Map[String, String] = {
    val parts = headerRaw.split(",", -1)
    val b = Map.newBuilder[String, String]
    if (parts.length > 0) b += "LogTimestamp" -> parts(0).trim
    if (parts.length > 1) b += "Component" -> parts(1).trim
    if (parts.length > 2) b += "Severity" -> parts(2).trim
    parts.drop(3).foreach { part =>
      val eq = part.indexOf('=')
      if (eq > 0) {
        val k = part.substring(0, eq).trim
        val v = trimChars(part.substring(eq + 1), " '")
        b += k -> v
      }
    }
    b.result()
  }

  private def trimChars(s: String, cutset: String): String = {
    var start = 0
    var end = s.length
    while (start < end && cutset.indexOf(s.charAt(start)) >= 0) start += 1
    while (end > start && cutset.indexOf(s.charAt(end - 1)) >= 0) end -= 1
    s.substring(start, end)
  }

  /** Quote-aware SQL extraction + timestamp scrub — reference
    * `sql_extractor.go:12-45`. Returns (sql, remainder-after-close).
    */
  def extractSql(s: String, quote: Char): (String, String) = {
    val sb = new StringBuilder
    var inEscape = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == quote && !inEscape) {
        return (scrub(sb.toString), s.substring(i + 1))
      }
      if (c == '\\' && !inEscape) {
        inEscape = true // escape marker consumed, not emitted
      } else {
        inEscape = false
        sb.append(c)
      }
      i += 1
    }
    (scrub(sb.toString), "") // unterminated quote: whole remainder
  }

  private def scrub(sql: String): String =
    TimestampScrub.replaceAllIn(sql, "").trim

  /** Multi-line Context extraction (to the LAST quote) — reference
    * `context_extractor.go:6-17`.
    */
  def extractContext(s: String): String = {
    val idx = s.indexOf(",Context='")
    if (idx == -1) return ""
    val ctx = s.substring(idx + ",Context='".length)
    val end = ctx.lastIndexOf('\'')
    if (end == -1) ctx else ctx.substring(0, end)
  }

  // --- Go strconv-compatible coercions (parser.go:98-116) ---
  // ParseUint/ParseInt: syntax error → 0; range error → clamp.

  def parseUintClamped(s: String, max: Long): Long = {
    if (s == null || s.isEmpty) return 0L
    var i = 0 // no sign prefix: Go ParseUint rejects '+'/'-'
    var v = 0L
    var overflow = false
    while (i < s.length) {
      val d = s.charAt(i) - '0'
      if (d < 0 || d > 9) return 0L
      // v * 10 + d > max, without overflowing the Long
      if (overflow || v > (max - d) / 10) overflow = true
      else v = v * 10 + d
      i += 1
    }
    if (overflow) max else v
  }

  def parseUint8(s: String): Int = parseUintClamped(s, 255L).toInt
  def parseUint32(s: String): Long = parseUintClamped(s, 4294967295L)
  def parseUint64(s: String): Long = parseUintClamped(s, Long.MaxValue)

  def parseInt32(s: String): Int = {
    if (s == null || s.isEmpty) return 0
    var i = 0
    var neg = false
    s.charAt(0) match {
      case '+' => i = 1
      case '-' => i = 1; neg = true
      case _   =>
    }
    if (i >= s.length) return 0
    // the magnitude stops growing past 2^31: beyond it, both signs clamp
    var v = 0L
    while (i < s.length) {
      val d = s.charAt(i) - '0'
      if (d < 0 || d > 9) return 0
      if (v <= 2147483648L) v = v * 10 + d
      i += 1
    }
    val signed = if (neg) -v else v
    if (signed > Int.MaxValue) Int.MaxValue
    else if (signed < Int.MinValue) Int.MinValue
    else signed.toInt
  }

  /** Record → typed LogEntry — reference `parser.go:13-45`. Never fails:
    * all error paths default ("" / 0). `Timestamp` is filled by the
    * caller from the source file name (reference `tail.go:77`).
    */
  def parseLine(lines: Seq[String]): LogEntry = {
    val raw = lines.mkString("\n")
    val (header, sql, context) = parseLogRecord(raw)
    def safe(k: String): String = header.getOrElse(k, "")
    LogEntry(
      Timestamp = safe("Timestamp"),
      LogTimestamp = safe("LogTimestamp"),
      Component = safe("Component"),
      Severity = parseUint8(safe("Severity")),
      Level = safe("level"),
      Process = safe("process"),
      ProcessName = safe("p:processName"),
      OSThread = parseUint32(safe("OSThread")),
      ClientID = parseUint32(safe("t:clientID")),
      ApplicationName = safe("t:applicationName"),
      ComputerName = safe("t:computerName"),
      ConnectID = parseUint32(safe("t:connectID")),
      SessionID = parseUint64(safe("SessionID")),
      User = safe("Usr"),
      DBMS = safe("DBMS"),
      Database = safe("DataBase"),
      Trans = parseUint32(safe("Trans")),
      DBPID = parseUint32(safe("dbpid")),
      SQL = sql,
      Rows = parseInt32(safe("Rows")),
      RowsAffected = parseInt32(safe("RowsAffected")),
      Context = context,
      EventType = safe("Event"),
      File = safe("File"),
      InsertedAt = Instant.now())
  }
}
