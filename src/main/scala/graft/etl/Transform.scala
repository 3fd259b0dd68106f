package graft.etl

import java.time.{LocalDateTime, Month, Year, ZoneId, ZonedDateTime}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.api.java.UDF2
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** LogEntry → TechLogRow transform (reference:
  * `internal/transform/transform.go:14-73`).
  *
  * T1–T3 and the T5 verdict are one plain Scala pass over the two
  * strings they read (`derive`), called through one UDF per record;
  * the renames, the `SessionID` narrowing and the constant-null
  * columns stay Catalyst columns, so a downstream query that needs
  * none of the derived columns still prunes the rest.
  *
  * Semantics preserved from the reference:
  *  - T1 date-from-filename: "25052607.log" → 2025-05-26, hour 07, with
  *    the hard-coded "20" century prefix (transform.go:20);
  *  - T2 event time: leading BOM ignored, first `\d{2}:\d{2}\.\d{1,6}` match in
  *    LogTimestamp, combined with date+hour in the session time zone;
  *    unparseable → record DROPPED (transform.go:26-45 — Go time.Parse
  *    validates ranges strictly, as does `derive`);
  *  - T3 duration: text after the first '-' of LogTimestamp, parsed as
  *    uint32; syntax OR range error → 0 (transform.go:47-53 — note this
  *    differs from the parser's clamping coercions);
  *  - T4 renames Component→EventType, DataBase→InfoBase,
  *    ConnectID→ConnectionID; SessionID narrowed uint64→uint32 by
  *    truncation, i.e. mod 2^32 (transform.go:62); ExceptionType and
  *    ErrorText constant-null (transform.go:65-66);
  *  - T5 malformed records are dropped, not failed (clickhouse.go:90-95).
  */
object Transform {

  private val Uint32Max = 4294967295L

  /** All 16 output columns + a validity predicate over LogEntry input
    * (T5: invalid records dropped).
    */
  def apply(entries: DataFrame): DataFrame =
    withReason(entries)
      .filter(col("drop_reason") === "ok")
      .drop("drop_reason")

  /** The same transform WITHOUT the T5 drop: every record keeps a
    * `drop_reason` column ('ok' | 'short_filename' | 'bad_hour' |
    * 'no_time_match' | 'bad_time') — the dead-letter-queue view of the
    * pipeline. The reasons REFINE the reference's single validity
    * predicate (reason == 'ok' ⇔ the T5 `valid`, proven by `apply`
    * being the filtered composition): an out-of-range hour surfaces as
    * 'bad_hour' even though the reference only observes it as the
    * timestamp parse failing. Invalid rows carry NULL EventDate /
    * EventTime and whatever else still parsed.
    *
    * `derive` runs in a generator, not a projection: a filter on
    * `drop_reason` stays above it, so the UDF runs once per record,
    * while a filter on a passed-through column (EventType) still
    * reaches the scan.
    */
  def withReason(entries: DataFrame): DataFrame = {
    val zone = DateTimeUtils.getZoneId(
      entries.sparkSession.sessionState.conf.sessionLocalTimeZone)
    val derived = udf(new UDF2[String, String, Row] {
      def call(fn: String, lt: String): Row = derive(fn, lt, zone)
    }, Derived).asNonNullable()

    entries
      .select(col("*"), inline(array(derived(col("Timestamp"), col("LogTimestamp")))))
      .select(
        date_from_unix_date(col("__day")).as("EventDate"),
        timestamp_micros(col("__micros")).as("EventTime"),
        col("Component").as("EventType"),
        col("__duration").as("Duration"),
        col("User"),
        col("Database").as("InfoBase"),
        pmod(col("SessionID"), lit(Uint32Max + 1L)).as("SessionID"),
        col("ClientID"),
        col("ConnectID").as("ConnectionID"),
        lit(null).cast("string").as("ExceptionType"),
        lit(null).cast("string").as("ErrorText"),
        col("SQL").as("SQLText"),
        col("Rows"),
        col("RowsAffected"),
        col("Context"),
        col("ProcessName"),
        col("__reason").as("drop_reason"))
  }

  /** `derive`'s row: event day (days since epoch), event time (µs since
    * epoch), duration and drop reason. Spelled out, not derived from a
    * Scala type, so the columns keep the nullability the output schema
    * has always had (Duration nullable, drop_reason not).
    */
  private val Derived = StructType(Seq(
    StructField("__day", IntegerType),
    StructField("__micros", LongType),
    StructField("__duration", LongType),
    StructField("__reason", StringType, nullable = false)))

  /** T1–T3 and the T5 reason of one record, from its file base name
    * `fn` and its LogTimestamp `lt`, in time zone `zone`. The event day and
    * time are null unless "20yy-MM-dd HH:mm:ss.ffffff" built from them
    * is a valid local time; a local time in a DST gap moves forward by
    * the gap, as `ZonedDateTime.of` does. Names are measured in code
    * points, as Spark's `substring` and `length` measure them.
    */
  def derive(fn: String, lt: String, zone: ZoneId): Row = {
    // the reference's BOM TrimPrefix (transform.go:29) needs no code: a
    // leading BOM is no digit and precedes the first '-', so it changes
    // neither the time match nor the duration
    val nameLen = if (fn == null) -1 else fn.codePointCount(0, fn.length)

    // Go Atoi(ts[6:8]) accepts a sign; %02d then re-renders it, so a
    // negative or > 23 hour never makes a valid time
    val hour = if (nameLen < 7) -1 else {
      val from = fn.offsetByCodePoints(0, 6)
      val raw = fn.substring(from, fn.offsetByCodePoints(from, math.min(nameLen, 8) - 6))
      val sign = if (raw.charAt(0) == '+' || raw.charAt(0) == '-') 1 else 0
      if (sign == raw.length || !allDigits(raw, sign, raw.length)) -1
      else if (raw.charAt(0) == '-') (if (raw.charAt(1) == '0') 0 else -1)
      else raw.substring(sign).toInt
    }
    val validHour = hour >= 0 && hour <= 23

    val at = if (lt == null) -1 else timeMatch(lt)
    var day: java.lang.Integer = null
    var micros: java.lang.Long = null
    if (validHour && at >= 0 && allDigits(fn, 0, 6)) {
      val year = 2000 + twoDigits(fn, 0)
      val month = twoDigits(fn, 2)
      val dom = twoDigits(fn, 4)
      val minute = twoDigits(lt, at)
      val second = twoDigits(lt, at + 3)
      // `\d{1,6}` is greedy; the fraction is right-padded to 6 digits
      var micro = 0
      var inFrac = true
      var f = at + 6
      while (f < at + 12) {
        inFrac = inFrac && f < lt.length && isDigit(lt.charAt(f))
        micro = micro * 10 + (if (inFrac) lt.charAt(f) - '0' else 0)
        f += 1
      }
      if (month >= 1 && month <= 12 && dom >= 1 &&
          dom <= Month.of(month).length(Year.isLeap(year)) &&
          minute <= 59 && second <= 59) {
        val zdt = ZonedDateTime.of(
          LocalDateTime.of(year, month, dom, hour, minute, second, micro * 1000), zone)
        day = zdt.toLocalDate.toEpochDay.toInt
        micros = zdt.toEpochSecond * 1000000L + micro
      }
    }

    val reason =
      if (nameLen >= 0 && nameLen < 8) "short_filename"
      else if (!validHour) "bad_hour"
      else if (lt != null && at < 0) "no_time_match"
      else if (micros == null) "bad_time"
      else "ok"
    Row(day, micros, duration(lt), reason)
  }

  /** Go ParseUint(SplitN(lt, "-", 2)[1], 10, 32): digits only (no
    * sign), in range, else 0 — also when there is no '-' at all.
    */
  private def duration(lt: String): Long = {
    val dash = if (lt == null) -1 else lt.indexOf('-')
    if (dash < 0) return 0L
    var v = 0L
    var i = dash + 1
    while (i < lt.length) {
      val c = lt.charAt(i)
      if (!isDigit(c)) return 0L
      v = v * 10 + (c - '0')
      if (v > Uint32Max) return 0L
      i += 1
    }
    v
  }

  /** Start of the first `\d{2}:\d{2}\.\d` in `s` (ASCII digits, as
    * `java.util.regex` reads `\d`), or -1.
    */
  private def timeMatch(s: String): Int = {
    var i = 0
    while (i + 7 <= s.length) {
      if (isDigit(s.charAt(i)) && isDigit(s.charAt(i + 1)) && s.charAt(i + 2) == ':' &&
          isDigit(s.charAt(i + 3)) && isDigit(s.charAt(i + 4)) && s.charAt(i + 5) == '.' &&
          isDigit(s.charAt(i + 6))) return i
      i += 1
    }
    -1
  }

  private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'

  private def allDigits(s: String, from: Int, until: Int): Boolean = {
    var i = from
    while (i < until && isDigit(s.charAt(i))) i += 1
    i == until
  }

  private def twoDigits(s: String, at: Int): Int =
    (s.charAt(at) - '0') * 10 + (s.charAt(at + 1) - '0')
}
