package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.LogPump
import graft.util.Memo
import graft.util.Tables._

/** Oracle-checked end-to-end exercise of the ENTIRE pump dataflow
  * (SURVEY.md §3.2): deterministically render the `events` table as 1C
  * technological-log files (incl. multi-line Context records and
  * embedded SQL timestamps that must be scrubbed), run the batch pump
  * over them, and emit a comparable projection. The DuckDB oracle
  * computes the expected 14 columns directly from `events` — so record
  * assembly, header parsing, SQL/Context extraction, filename-derived
  * dates, duration parsing and the 23→16 reshape are all hash-checked,
  * not just unit-tested.
  */
object PumpOps {

  /** events → (file name, one rendered record per event). */
  private[graft] def rendered(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    def n(c: String, m: Int) = pmod(col(c), lit(m)).cast("string")
    val frac = lpad(pmod(col("event_id"), lit(1000000)).cast("string"), 6, "0")
    val ctx = concat(
      when(pmod(col("event_id"), lit(5)) === 0, lit("ctx line1\n")).otherwise(lit("")),
      lit("ctx "), col("event_id"))
    val record = concat(
      date_format(col("ts"), "mm:ss."), frac, lit("-"), col("event_id"),
      lit(","), upper(col("event_type")),
      lit(","), n("event_id", 10),
      lit(",process=rphost"),
      lit(",p:processName=proc"), n("user_id", 5),
      lit(",OSThread="), n("event_id", 1000),
      lit(",t:clientID="), col("user_id"),
      lit(",t:connectID="), n("event_id", 97),
      lit(",SessionID="), col("event_id"),
      lit(",Usr=user"), col("user_id"),
      lit(",DataBase=db"), n("user_id", 3),
      lit(",Rows="), n("event_id", 100),
      lit(",RowsAffected="), n("user_id", 10),
      lit(",Sql='SELECT "), col("event_id"), lit(" FROM t WHERE d > 2024-05-05 10:11:12'"),
      lit(",Context='"), ctx, lit("'"))
    ev.select(
      concat(date_format(col("ts"), "yyMMddHH"), lit(".log")).as("fname"),
      record.as("record"))
  }

  /** Render the events table as .log fixture files on disk, memoized
    * per (session, sf dir): q40 and q91 consume the identical fixture
    * set, so only the first of the two pays the render+write (same
    * shared-stage timing caveat as the LSH caches — see CacheRegistry).
    */
  private val fixtureCache = new Memo[(SparkSession, String), String]
  private def fixtureDir(s: SparkSession, d: String): String =
    fixtureCache((s, d)) {
      val perFile = rendered(s, d)
        .groupBy(col("fname"))
        .agg(concat_ws("\n", collect_list(col("record"))).as("content"))
        .collect() // one row per hour-file (~720 at any sf) — driver-side fixture write
      // scratch name carries the sf-dir hash: a fixed shared name would
      // let a second sf dir overwrite fixtures the first memo entry
      // still points at
      val dir = java.nio.file.Paths.get(graft.util.TmpDirs.scratch(
        "pump-fixtures-" + Integer.toHexString(d.hashCode)))
      perFile.foreach { r =>
        Files.writeString(dir.resolve(r.getString(0)), r.getString(1) + "\n")
      }
      dir.toString
    }

  /** Render → write .log fixture files → pump → comparable projection. */
  def pumpRoundTrip(s: SparkSession, d: String): DataFrame =
    comparableProjection(LogPump.pumpBatch(s, fixtureDir(s, d)))

  /** The same round trip through the connector's pushdown path: a
    * `Timestamp` range predicate that every fixture file name passes
    * is pushed into the scan, so the file-list pruning (`pruneByName`)
    * and the reader's per-record checks run, then the identical 23→16
    * transform — hash-checked against the same oracle as q40, which
    * reads with no pushed filter.
    */
  def dsv2RoundTrip(s: SparkSession, d: String): DataFrame =
    comparableProjection(graft.etl.Transform(
      s.read.format("techlog").load(fixtureDir(s, d))
        .filter(col("Timestamp") >= "00000000.log")))

  private def comparableProjection(pumped: DataFrame): DataFrame =
    pumped
      .select(
        date_format(col("EventDate"), "yyyy-MM-dd").as("EventDate"),
        date_format(col("EventTime"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("EventTime"),
        col("EventType"),
        col("Duration"),
        col("User"),
        col("InfoBase"),
        col("SessionID"),
        col("ClientID"),
        col("ConnectionID"),
        col("SQLText"),
        col("Rows").cast("long").as("Rows"),
        col("RowsAffected").cast("long").as("RowsAffected"),
        col("Context"),
        col("ProcessName"))
      .orderBy(col("SessionID"))

  /** Log compaction, ReplacingMergeTree-style (the reference's sink
    * family: MergeTree absorbs duplicates, Replacing keeps the latest
    * version per key): latest event per (user, type) by (ts,
    * event_id). An ARGMAX aggregation, not a window — max_by reduces
    * map-side so the shuffle carries one row per key (which is also
    * how Replacing merges actually work: per-part reduction, then
    * merge of winners), where row_number would sort and shuffle every
    * version.
    */
  def latestWins(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(max_by(struct(col("event_id"), col("ts")),
        struct(col("ts"), col("event_id"))).as("m"))
      .select(col("user_id"), col("event_type"),
        col("m.event_id").as("latest_event"),
        date_format(col("m.ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("latest_ts"))
      .orderBy(col("user_id"), col("event_type"))

  /** Partition-layout round-trip: write events Hive-partitioned by day
    * (the engine's MergeTree `PARTITION BY EventDate` analog), read
    * back with a day filter — Catalyst prunes to 3 of ~30 partition
    * directories — and aggregate. The oracle computes the same from
    * the source table, so layout + pruning semantics are hash-checked.
    */
  def partitionPrune(s: SparkSession, d: String): DataFrame = {
    val dir = graft.util.TmpDirs.scratch("part-rt")
    events(s, d)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      // cluster by the partition column before a partitioned write:
      // without it every task writes a sliver of every day (~32 files
      // × 30 dirs of tiny parquet — the classic small-files failure at
      // scale); with it each day lands in ~1 well-sized file
      .repartition(col("day"))
      .write.mode("overwrite").partitionBy("day").parquet(dir)
    s.read.parquet(dir)
      .filter(col("day").between("2024-01-10", "2024-01-12"))
      // partition-type inference reads day back as DATE; normalize to
      // string (DATE-typed outputs never oracle-match — parity rules)
      .groupBy(col("day").cast("string").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("day"), col("event_type"))
  }

  /** q244: pump dead-letter accounting — the same pipeline over a
    * deliberately-corrupted fixture set (every event_id ≡ 0 mod 17
    * record gets minutes "99" → timestamp parse fails; an extra
    * hour-"25" file carries copies of the user_id ≡ 3 mod 7 events →
    * filename hour out of range), classified by
    * `Transform.withReason` instead of silently dropped (the T5
    * widening every production pump eventually needs: the reference
    * drops malformed rows with no trace, clickhouse.go:90-95). The
    * oracle recomputes each reason's expected count straight from
    * `events`, so record assembly THROUGH the corruptions is
    * hash-checked — a torn assembly would shift counts.
    *
    * Scale shape: identical to q40 (narrow per-file tasks); the DLQ
    * view adds one |reasons|-keyed rollup.
    */
  def pumpDlq(s: SparkSession, d: String): DataFrame =
    graft.etl.Transform.withReason(
        s.read.format("techlog").load(corruptFixtureDir(s, d)))
      .groupBy(col("drop_reason"))
      .agg(count(lit(1)).as("n_records"))
      .orderBy(col("drop_reason"))

  /** Corrupted fixture set for q244 (separate memo — q40/q91 keep
    * their clean files): minute-mangled records preserve the record
    * boundary shape (99:99. still matches the assembler's start
    * pattern) so assembly is exercised, only the transform rejects.
    */
  private val corruptCache = new Memo[(SparkSession, String), String]
  private def corruptFixtureDir(s: SparkSession, d: String): String =
    corruptCache((s, d)) {
      // corrupt by regex on the record itself, keyed by the rendered
      // event id after the '-' separator
      val corrupted = rendered(s, d)
        .withColumn("eid",
          regexp_extract(col("record"), "^[0-9]{2}:[0-9]{2}\\.[0-9]{6}-([0-9]+),", 1)
            .cast("long"))
        .select(col("fname"),
          when(pmod(col("eid"), lit(17)) === 0,
            regexp_replace(col("record"), "^([0-9]{2}):[0-9]{2}\\.", "$1:99."))
            .otherwise(col("record")).as("record"))
      val extraRecords = rendered(s, d)
        .withColumn("eid",
          regexp_extract(col("record"), "^[0-9]{2}:[0-9]{2}\\.[0-9]{6}-([0-9]+),", 1)
            .cast("long"))
        .join(events(s, d).filter(pmod(col("user_id"), lit(7)) === 3)
          .select(col("event_id").as("eid"),
            concat(date_format(col("ts"), "yyMMdd"), lit("25.log")).as("f25")),
          Seq("eid"))
        .select(col("f25").as("fname"), col("record"))
      val perFile = corrupted.unionAll(extraRecords)
        .groupBy(col("fname"))
        .agg(concat_ws("\n", collect_list(col("record"))).as("content"))
        .collect()
      val dir = java.nio.file.Paths.get(graft.util.TmpDirs.scratch(
        "pump-dlq-fixtures-" + Integer.toHexString(d.hashCode)))
      perFile.foreach { r =>
        Files.writeString(dir.resolve(r.getString(0)), r.getString(1) + "\n")
      }
      dir.toString
    }

  /** q245: the q244 dead-letter accounting through the STREAMING
    * techlog DSv2 source — the corrupt fixtures are tailed by the
    * MicroBatchStream (record-aligned admission and all), every
    * micro-batch classifies its records with `Transform.withReason`,
    * and the per-batch reason counts append to the DLQ ledger; the
    * final rollup must equal the batch q244 accounting exactly
    * (same oracle). This is the production pump shape: malformed
    * records become an observable, queryable stream instead of
    * silent drops.
    *
    * Scale shape: per batch, a narrow classify + a |reasons|-keyed
    * count; the ledger grows by ≤ |reasons| rows per trigger.
    */
  def streamDlq(s: SparkSession, d: String): DataFrame =
    graft.util.StreamTuning.withShuffle(s, 8) {
      val dir = corruptFixtureDir(s, d)
      val out = graft.util.TmpDirs.scratch("stream-dlq-out")
      graft.util.StreamTuning.drain(s.readStream.format("techlog")
          .option("idleAdmitMs", "0").load(dir)) { (batch, _) =>
        graft.etl.Transform.withReason(batch)
          .groupBy(col("drop_reason"))
          .agg(count(lit(1)).as("n"))
          .write.mode("append").parquet(out)
      }
      s.read.parquet(out)
        .groupBy(col("drop_reason"))
        .agg(sum(col("n")).as("n_records"))
        .orderBy(col("drop_reason"))
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q40_pump_roundtrip" -> pumpRoundTrip _,
    "q91_dsv2_roundtrip" -> dsv2RoundTrip _,
    "q76_latest_wins"    -> latestWins _,
    "q244_pump_dlq"      -> pumpDlq _,
    "q245_stream_dlq"    -> streamDlq _,
    "q77_partition_prune" -> partitionPrune _)

  val oracleSql: Map[String, String] = Map(
    "q76_latest_wins" ->
      """WITH r AS (
        |  SELECT user_id, event_type, event_id,
        |    date_trunc('microseconds', ts) AS ts_us,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY date_trunc('microseconds', ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_type, event_id AS latest_event,
        |  strftime(ts_us, '%Y-%m-%d %H:%M:%S.%f') AS latest_ts
        |FROM r WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,
    "q77_partition_prune" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, count(*) AS n
        |FROM events
        |WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-10' AND '2024-01-12'
        |GROUP BY 1, 2
        |ORDER BY day, event_type""".stripMargin,
    "q91_dsv2_roundtrip" -> PumpOracle,
    "q40_pump_roundtrip" -> PumpOracle,
    "q245_stream_dlq" -> DlqOracle,
    "q244_pump_dlq" -> DlqOracle)

  /** Shared DLQ oracle: the batch (q244) and streaming (q245) pumps
    * must produce the identical reason accounting over the corrupt
    * fixtures.
    */
  private lazy val DlqOracle =
      """WITH base AS (
        |  SELECT CAST(count(*) AS BIGINT) AS total,
        |    CAST(sum(CASE WHEN event_id % 17 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS badt
        |  FROM events),
        |extra AS (
        |  SELECT CAST(count(*) AS BIGINT) AS badh
        |  FROM events WHERE user_id % 7 = 3),
        |rows_ AS (
        |  SELECT 'bad_time' AS drop_reason, badt AS n_records FROM base
        |  UNION ALL
        |  SELECT 'bad_hour', badh FROM extra
        |  UNION ALL
        |  SELECT 'ok', total - badt FROM base)
        |SELECT drop_reason, n_records FROM rows_
        |WHERE n_records > 0
        |ORDER BY drop_reason""".stripMargin

  /** Shared oracle: q40 (`LogPump.pumpBatch`) and q91 (the bare DSv2
    * connector) must both reproduce this projection of `events` exactly.
    */
  private lazy val PumpOracle =
      """SELECT strftime(ts, '%Y-%m-%d') AS EventDate,
        |  strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S')
        |    || '.' || lpad(CAST(event_id % 1000000 AS VARCHAR), 6, '0') AS EventTime,
        |  upper(event_type) AS EventType,
        |  event_id AS Duration,
        |  'user' || CAST(user_id AS VARCHAR) AS "User",
        |  'db' || CAST(user_id % 3 AS VARCHAR) AS InfoBase,
        |  event_id AS SessionID,
        |  user_id AS ClientID,
        |  event_id % 97 AS ConnectionID,
        |  'SELECT ' || CAST(event_id AS VARCHAR) || ' FROM t WHERE d >' AS SQLText,
        |  CAST(event_id % 100 AS BIGINT) AS "Rows",
        |  CAST(user_id % 10 AS BIGINT) AS RowsAffected,
        |  CASE WHEN event_id % 5 = 0
        |       THEN 'ctx line1' || chr(10) || 'ctx ' || CAST(event_id AS VARCHAR)
        |       ELSE 'ctx ' || CAST(event_id AS VARCHAR) END AS "Context",
        |  'proc' || CAST(user_id % 5 AS VARCHAR) AS ProcessName

        |FROM events
        |ORDER BY SessionID""".stripMargin
}
