package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The Catalyst expression tree `etl.Transform.withReason` used to be
  * (T1–T3/T5 as regexp_replace / regexp_extract / rlike / split /
  * decimal cast / try_to_timestamp), kept verbatim as the equivalence
  * oracle of `TransformSpec`.
  */
object TransformOracle {

  private val Uint32Max = 4294967295L

  /** Whether `withReason` fails the job on this LogTimestamp under ANSI
    * mode: no '-' after the BOM strip (`element_at` out of bounds), or
    * a digits-only duration of more than 38 digits (decimal overflow).
    */
  def throwsOn(logTimestamp: String): Boolean = logTimestamp != null && {
    val lt = logTimestamp.stripPrefix("\uFEFF")
    val after = lt.substring(lt.indexOf('-') + 1)
    !lt.contains('-') ||
      (after.nonEmpty && after.forall(c => c >= '0' && c <= '9') &&
        after.dropWhile(_ == '0').length > 38)
  }

  def withReason(entries: DataFrame): DataFrame = {
    val fn = col("Timestamp")
    val lt = regexp_replace(col("LogTimestamp"), "^\uFEFF", "")

    val dateStr = concat(lit("20"),
      substring(fn, 1, 2), lit("-"),
      substring(fn, 3, 2), lit("-"),
      substring(fn, 5, 2))
    val hourRaw = substring(fn, 7, 2)
    val hourInt = when(hourRaw.rlike("^[+-]?[0-9]+$"), hourRaw.cast("int"))
    val hourStr = lpad(hourInt.cast("string"), 2, "0")

    val timeRx = "(\\d{2}):(\\d{2})\\.(\\d{1,6})"
    val mm = regexp_extract(lt, timeRx, 1)
    val ss = regexp_extract(lt, timeRx, 2)
    val frac = regexp_extract(lt, timeRx, 3)

    val eventTimeStr = concat(dateStr, lit(" "), hourStr, lit(":"),
      mm, lit(":"), ss, lit("."), rpad(frac, 6, "0"))
    val eventTime = try_to_timestamp(eventTimeStr,
      lit("yyyy-MM-dd HH:mm:ss.SSSSSS"))

    val afterDash = element_at(split(lt, "-", 2), 2)
    val durNum = when(afterDash.rlike("^[0-9]+$"),
      afterDash.cast("decimal(38,0)"))
    val duration = when(durNum.isNotNull && durNum <= Uint32Max,
      durNum.cast("long")).otherwise(lit(0L))

    val reason: Column =
      when(length(fn) < 8, "short_filename")
        .when(hourInt.isNull || hourInt < 0 || hourInt > 23, "bad_hour")
        .when(mm === "", "no_time_match")
        .when(eventTime.isNull, "bad_time")
        .otherwise("ok")

    entries
      .withColumn("__event_time", eventTime)
      .withColumn("drop_reason", reason)
      .select(
        to_date(col("__event_time")).as("EventDate"),
        col("__event_time").as("EventTime"),
        col("Component").as("EventType"),
        duration.as("Duration"),
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
        col("drop_reason"))
  }
}
