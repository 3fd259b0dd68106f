package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DataTypes

import graft.util.Memo
import graft.util.Tables._

/** Event-stream analytics over the `events` table (SURVEY.md §2.2):
  * tumbling/sliding event-time windows, native session windows, and
  * gaps-and-islands sessionization. Batch forms here are oracle-checked;
  * the streaming variants (same expressions under `readStream` +
  * watermark) live in `graft.streaming.EventStreams` and are covered by
  * ScalaTest.
  *
  * All timestamps are floored to µs on read (Tables.events) and only
  * ever emitted as formatted strings — DuckDB keeps ns precision, so
  * raw timestamp output would never hash-match.
  */
object EventAnalytics {

  private val TsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** Tumbling 1-hour windows per event type — Spark's `window()`. */
  def hourlyByType(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("hour_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("hour_start"), col("event_type"))

  /** Sliding 1-hour windows every 30 minutes (each event lands in 2). */
  def slidingCounts(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("w_start"),
        col("n"), col("n_users"))
      .orderBy(col("w_start"))

  /** Gaps-and-islands sessionization: a session breaks after >30 min
    * idle. Manual lag+cumsum form — the exact same construction is
    * SQL-expressible, so it oracle-checks the semantics that the native
    * session_window operator (below) implements internally.
    *
    * sum_value is computed as an exact DECIMAL sum rounded in decimal
    * domain: a plain double sum is addition-order-dependent (partial-agg
    * order in Spark, morsel scheduling in DuckDB) and double `round()`
    * differs across engines at .xx5 boundaries. The decimal path is
    * order-independent and rounds identically everywhere.
    */
  def sessionize(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(s, d)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1).otherwise(0))
      .withColumn("session_no", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_no"))
      .agg(count(lit(1)).as("n_events"),
        date_format(min(col("ts")), TsFmt).as("session_start"),
        round(sum(col("value").cast(org.apache.spark.sql.types.DataTypes
          .createDecimalType(28, 6))), 2).cast("double").as("sum_value"))
      .orderBy(col("user_id"), col("session_no"))
  }

  /** Native session_window operator (30-min gap), aggregated per user.
    * Oracle: the equivalent gaps-and-islands SQL.
    */
  def sessionWindowNative(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("w.start"), TsFmt).as("session_start"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start"))

  /** q154: the q18 session-window aggregation executed as a REAL
    * Structured Streaming job — `readStream` over the events parquet,
    * one `StreamTuning.drain`, session state in the streaming
    * aggregation operator, result landed by an overwrite per batch —
    * and gated by the SAME gaps-and-islands
    * DuckDB oracle as the batch form. This is the one place the driver
    * gate exercises the streaming engine end-to-end: state store,
    * trigger lifecycle, and sink commit all sit between the input and
    * the hash.
    *
    * Complete output mode (not append+watermark): with a finite
    * backlog the watermark never passes the last sessions, so append
    * would hold them back forever — complete emits the full state at
    * each trigger and the LAST overwrite is the total answer. The
    * foreachBatch parquet overwrite keeps the result distributed
    * (no driver-side memory sink); at 100 TB the same topology
    * streams from object storage with the identical plan, and only
    * the sink cadence changes.
    */
  def streamSessions(s: SparkSession, d: String): DataFrame = {
    graft.util.StreamTuning.withShuffle(s, 8) {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val path = s"$d/events.parquet"
      val out = graft.util.TmpDirs.scratch("stream-sessions")
      // the file stream source insists its base path be a DIRECTORY: a
      // plain file path fails outright, so list the single events file
      // via a glob — base resolves to the sf dir, the glob matches just
      // the events table
      val agg = graft.util.Tables.normalizeTs(
        s.readStream.schema(graft.util.Tables.table(s, d, "events").schema)
          .parquet(s"$d/events.parquet*"))
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          date_format(col("w.start"), TsFmt).as("session_start"),
          col("n_events"))
      graft.util.StreamTuning.drain(agg, "complete") { (batch, _) =>
        batch.write.mode("overwrite").parquet(out)
      }
      s.read.parquet(out).orderBy(col("user_id"), col("session_start"))
    }
  }

  /** q275: q154's session aggregation in APPEND mode with a 1-hour
    * watermark — the PRODUCTION mode: a session emits exactly once,
    * when the watermark passes its close (last event + 30-min gap),
    * and the state store only ever holds OPEN sessions. q154's
    * complete mode re-emits the full state every trigger, which is
    * the right gate form for a finite backlog but cannot scale past
    * small key counts on an unbounded run; this is the same
    * aggregation emitting once-on-closure.
    *
    * Gate semantics: the emitted set is the gaps-and-islands sessions
    * whose close precedes the final watermark — max event time
    * (millisecond-truncated, as the engine tracks it) − 1 h — so the
    * oracle is the q18/q154 oracle RESTRICTED to closed sessions.
    * The last ~90 minutes of sessions stay in state when the backlog
    * ends: exactly the rows a production restart would emit later,
    * never wrong rows.
    *
    * Scale shape: identical to q154's shuffle (user-keyed session
    * merge) but state is bounded by the watermark horizon — open
    * sessions only — instead of every session ever seen.
    */
  def streamSessionsAppend(s: SparkSession, d: String): DataFrame = {
    graft.util.StreamTuning.withShuffle(s, 8) {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val path = s"$d/events.parquet"
      val out = graft.util.TmpDirs.scratch("stream-sessions-append")
      val agg = graft.util.Tables.normalizeTs(
        s.readStream.schema(graft.util.Tables.table(s, d, "events").schema)
          .parquet(s"$d/events.parquet*"))
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          date_format(col("w.start"), TsFmt).as("session_start"),
          col("n_events"))
      graft.util.StreamTuning.drain(agg) { (batch, _) =>
        batch.write.mode("append").parquet(out)
      }
      s.read.parquet(out).orderBy(col("user_id"), col("session_start"))
    }
  }

  /** q164: per-user running totals through the STREAMING engine — the
    * third stateful streaming operator under the driver gate
    * (aggregation state, vs q154's session windows and q159's dedup
    * keys). `readStream` over events, user_id-keyed streaming
    * aggregation, AvailableNow drain, complete-mode overwrite; the
    * last emission is the total answer and is gated by the plain batch
    * GROUP BY oracle. The value sum runs in DECIMAL(28,6) (the q17
    * discipline) so streaming partial-aggregation order can never
    * perturb the rounded output.
    *
    * Scale shape: state = one (count, decimal sum) pair per user,
    * sharded by user_id hash exactly like the batch shuffle; an
    * unbounded run switches to update mode + a sink that upserts.
    */
  def streamUserTotals(s: SparkSession, d: String): DataFrame = {
    graft.util.StreamTuning.withShuffle(s, 8) {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val path = s"$d/events.parquet"
      val out = graft.util.TmpDirs.scratch("stream-user-totals")
      val totals = s.readStream.schema(graft.util.Tables.table(s, d, "events").schema)
        .parquet(s"$d/events.parquet*")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value").cast(DataTypes.createDecimalType(28, 6))), 2)
            .cast("double").as("sum_value"))
      graft.util.StreamTuning.drain(totals, "complete") { (batch, _) =>
        batch.write.mode("overwrite").parquet(out)
      }
      s.read.parquet(out).orderBy(col("user_id"))
    }
  }

  /** Per-type value stats: raw min/max are bit-exact stored doubles. */
  def typeStats(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("sum_value"),
        round(avg(col("value")), 4).as("avg_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy(col("event_type"))

  /** Pivot: daily event counts, one column per event type. Types are
    * enumerated explicitly (the scalable form — no discovery pass).
    */
  def dailyPivot(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("day"))

  /** Exact interpolated percentiles per event type (Spark `percentile`
    * ≡ DuckDB `quantile_cont`).
    */
  def valuePercentiles(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"))
      .orderBy(col("event_type"))

  /** JSON columns: parse the props payload with a declared schema
    * (`from_json` — the Catalyst JSON parser, not string hacking) and
    * aggregate the extracted field.
    *
    * avg_k is computed with exact integer arithmetic (half-up at 4
    * decimals via scaled integer division) so the result cannot depend
    * on the engine's double `round()` flavor: k is integer-valued, so
    * avg(k) lands exactly on .xxxx5 boundaries where Spark (decimal
    * half-up) and DuckDB (binary nearest) historically disagree.
    */
  def jsonProps(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("k", from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")).getField("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        expr("CAST((sum(k) * 20000 + count(k)) DIV (2 * count(k)) AS DOUBLE) / 10000")
          .as("avg_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  /** Statistical aggregate family (variance / stddev / correlation)
    * per event type, computed from EXACT decimal moment sums with the
    * closed-form formulas written identically on both engines — the
    * built-in stddev_samp/corr use streaming algorithms (Welford)
    * whose low bits are engine- and order-dependent; EventStatsSpec
    * proves this form matches them to 1e-6.
    */
  def statsAgg(s: SparkSession, d: String): DataFrame = {
    val D9 = org.apache.spark.sql.types.DataTypes.createDecimalType(28, 9)
    events(s, d)
      .withColumn("k", from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")).getField("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(D9)).cast("double").as("s1"),
        sum((col("value") * col("value")).cast(D9)).cast("double").as("s2"),
        sum(col("k")).cast("double").as("t1"),
        sum(col("k") * col("k")).cast("double").as("t2"),
        sum((col("value") * col("k")).cast(D9)).cast("double").as("s11"))
      .select(col("event_type"), col("n"),
        round((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1), 4)
          .as("var_value"),
        round(sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1)), 4)
          .as("std_value"),
        round((col("n") * col("s11") - col("s1") * col("t1")) /
          (sqrt(col("n") * col("s2") - col("s1") * col("s1")) *
            sqrt(col("n") * col("t2") - col("t1") * col("t1"))), 4).as("corr_vk"))
      .orderBy(col("event_type"))
  }

  /** Funnel analysis: per user, the first click and whether a purchase
    * followed it within 1 hour — conversion counts per user cohort
    * (cohort = the hour of the first click). Two aggregations + one
    * broadcastable join; all-integer output.
    */
  def funnel(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val firstClick = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("c0"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("pus"))
    val converted = firstClick.join(purchases, Seq("user_id"), "left")
      .groupBy(col("user_id"), col("c0"))
      .agg(max(when(col("pus") >= col("c0") &&
        col("pus") <= col("c0") + 3600000000L, 1).otherwise(0)).as("conv"))
    converted
      .groupBy(date_format(timestamp_micros(col("c0")), "yyyy-MM-dd HH:00").as("cohort_hour"))
      .agg(count(lit(1)).as("n_clicked"), sum(col("conv")).as("n_converted"))
      .orderBy(col("cohort_hour"))
  }

  /** N-day retention: for each activity day, how many of that day's
    * active users were also active exactly 7 days later. Self-join of
    * the (day, user) activity set — the classic cohort-retention
    * shape; all-integer output.
    */
  def retention(s: SparkSession, d: String): DataFrame = {
    val active = events(s, d)
      .select(datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")).as("day"),
        col("user_id")).distinct()
    active.as("a")
      .join(active.as("b"),
        col("b.day") === col("a.day") + 7 && col("b.user_id") === col("a.user_id"),
        "left")
      .groupBy(col("a.day").as("day"))
      .agg(count(lit(1)).as("n_active"),
        count(col("b.user_id")).as("n_retained_7d"))
      .select(date_format(date_add(lit("1970-01-01").cast("date"), col("day")),
        "yyyy-MM-dd").as("day"), col("n_active"), col("n_retained_7d"))
      .orderBy(col("day"))
  }

  /** Full outer join: daily click counts vs daily purchase counts —
    * days with only one side present survive with a zero on the other
    * (the COALESCE-merge pattern).
    */
  def fullOuterDaily(s: SparkSession, d: String): DataFrame = {
    def daily(t: String) = events(s, d).filter(col("event_type") === t)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as(s"n_$t"))
    daily("click").join(daily("purchase"), Seq("day"), "full_outer")
      .select(col("day"),
        coalesce(col("n_click"), lit(0L)).as("n_click"),
        coalesce(col("n_purchase"), lit(0L)).as("n_purchase"))
      .orderBy(col("day"))
  }

  /** Anomaly detection: the 3 most extreme events per type by |z|
    * against the type's global moments. Mean/std come from the exact
    * decimal sums (order-independent); the z expression is written
    * identically on both engines, so raw doubles stay bit-equal and
    * only the final display value is rounded.
    */
  def anomalies(s: SparkSession, d: String): DataFrame = {
    val D9 = org.apache.spark.sql.types.DataTypes.createDecimalType(28, 9)
    val moments = events(s, d).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(D9)).cast("double").as("s1"),
        sum((col("value") * col("value")).cast(D9)).cast("double").as("s2"))
      .select(col("event_type"),
        (col("s1") / col("n")).as("mean"),
        sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
          .as("std"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(abs(col("z")).desc, col("event_id"))
    events(s, d).join(broadcast(moments), Seq("event_type"))
      .withColumn("z", (col("value") - col("mean")) / col("std"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("event_type"), col("event_id"), round(col("z"), 3).as("z"))
      .orderBy(col("event_type"), col("event_id"))
  }

  /** SCD Type-2 history build (the CDC/merge operator a warehouse load
    * runs): collapse each user's event stream into contiguous
    * same-event_type segments with [valid_from, valid_to) validity and
    * a per-user version number; the open segment has NULL valid_to and
    * is flagged current.
    *
    * Shape: one shuffle on user_id; the change-point filter and both
    * follow-up windows (version, lead) reuse that partitioning, so the
    * whole history build is a single keyed exchange regardless of
    * corpus size.
    */
  def scd2History(s: SparkSession, d: String): DataFrame = {
    val wAll = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val starts = events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(wAll))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    val wSeg = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    starts
      .withColumn("version", row_number().over(wSeg))
      .withColumn("next_ts", lead(col("ts"), 1).over(wSeg))
      .select(col("user_id"), col("version"), col("event_type"),
        date_format(col("ts"), TsFmt).as("valid_from"),
        date_format(col("next_ts"), TsFmt).as("valid_to"),
        col("next_ts").isNull.as("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  /** CDC MERGE / upsert (the `MERGE INTO` primitive a warehouse load
    * runs, complementing q108's SCD2 history): the user-profile table
    * as of a cutoff is merged with the changeset of later events.
    * Matched users whose latest delta event is an `error` are DELETEd;
    * other matches UPDATE (event counts add, last-seen state moves
    * forward); unmatched changeset users INSERT unless their latest
    * event is an `error` (REJECT). Untouched users KEEP. Every row is
    * emitted with its action — the full audit a merge sink applies.
    *
    * The cutoff splits the event span 80/20 in integer µs from the
    * stream's own min/max (no wall clock — reproducible replays).
    *
    * Shape: one user-keyed window sort per side for the last-event
    * state (the q108 partitioning), then ONE full-outer shuffle join
    * on user_id. The 1-row span scalar broadcasts (the q115-style
    * allowed BNLJ). No corpus-wide sort: per-side windows are
    * user-keyed, and the join is the only cross-side exchange.
    */
  def cdcMerge(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"), col("event_id"),
      col("event_type"), col("value"), unix_micros(col("ts")).as("us"))
    val span = ev.agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
      // integer div: `/` on longs would detour through double
      .select((col("lo") + expr("(hi - lo) * 4 div 5")).as("cut"))
    val cutEv = ev.crossJoin(broadcast(span))
    def profile(side: DataFrame, prefix: String): DataFrame = {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us").desc, col("event_id").desc)
      side
        .withColumn("rn", row_number().over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as(s"${prefix}_n"),
          max(when(col("rn") === 1, col("event_type"))).as(s"${prefix}_type"),
          max(when(col("rn") === 1, col("value"))).as(s"${prefix}_value"),
          max(when(col("rn") === 1, col("us"))).as(s"${prefix}_us"))
    }
    val base  = profile(cutEv.filter(col("us") < col("cut")), "b")
    val delta = profile(cutEv.filter(col("us") >= col("cut")), "d")
    base.join(delta, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        when(col("d_n").isNull, "keep")
          .when(col("d_type") === "error",
            when(col("b_n").isNull, "reject").otherwise("delete"))
          .when(col("b_n").isNull, "insert")
          .otherwise("update").as("action"),
        (coalesce(col("b_n"), lit(0L)) + coalesce(col("d_n"), lit(0L)))
          .as("n_events"),
        coalesce(col("d_type"), col("b_type")).as("last_type"),
        round(coalesce(col("d_value"), col("b_value")), 2).as("last_value"),
        coalesce(col("d_us"), col("b_us")).as("last_us"))
      .orderBy(col("user_id"))
  }

  /** Last-touch marketing attribution: every purchase is attributed to
    * the user's most recent click in the preceding 7 days, plus the
    * click count in that window (the multi-touch denominator).
    *
    * One shuffle on user_id; both windows are value-RANGE frames over
    * the µs timeline of the SAME sort, so clicks and purchases merge
    * in a single pass — the union-merge shape of the as-of join (q44)
    * extended with a bounded lookback.
    */
  def attribution(s: SparkSession, d: String): DataFrame = {
    val lookbackUs = 7L * 24 * 3600 * 1000000
    val ev = events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), col("ts"), col("value"),
        (col("event_type") === "click").cast("int").as("is_click"),
        unix_micros(col("ts")).as("us"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-lookbackUs, -1)
    ev
      .withColumn("click_in_win",
        max(when(col("is_click") === 1, struct(col("us"), col("event_id")))).over(w))
      .withColumn("n_clicks_7d",
        sum(col("is_click")).over(w))
      .filter(col("is_click") === 0)
      .select(col("user_id"),
        col("event_id").as("purchase_id"),
        col("click_in_win.event_id").as("attributed_click"),
        coalesce(col("n_clicks_7d"), lit(0L)).as("n_clicks_7d"),
        round(col("value"), 2).as("value"))
      .orderBy(col("user_id"), col("purchase_id"))
  }

  /** Rolling 7-day distinct users per day — the "weekly active users"
    * series, computed EXACTLY without any window-distinct operator:
    * distinct (user, day) pairs are replicated to the ≤ 7 target days
    * they contribute to, deduplicated, and counted. A 7× narrow
    * amplification and two keyed aggregations replace the quadratic
    * day × history self-join; sketch-free and exact at any scale.
    */
  def rollingDistinct(s: SparkSession, d: String): DataFrame = {
    val pairs = events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val bounds = pairs.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val daily = pairs.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val contrib = pairs
      .select(col("user_id"),
        explode(expr("sequence(day, date_add(day, 6))")).as("t"))
      .distinct()
      .groupBy(col("t")).agg(count(lit(1)).as("wau"))
    contrib.join(broadcast(bounds), col("t").between(col("d0"), col("d1")))
      .join(daily, col("t") === col("day"), "left")
      .select(date_format(col("t"), "yyyy-MM-dd").as("day"),
        coalesce(col("dau"), lit(0L)).as("dau"), col("wau"))
      .orderBy(col("day"))
  }

  /** Session path analysis: the Markov transition matrix over
    * event_type within 30-minute-gap sessions (q17's sessionization) —
    * transition counts and per-source probabilities. Two windows and
    * two aggregations, all on the user-keyed sort; probabilities are
    * exact integer ratios so the oracle parity is rounding-only.
    */
  def markovTransitions(s: SparkSession, d: String): DataFrame =
    sessionTransitionCounts(s, d)
      .withColumn("p", round(col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("from_type"))), 4))
      .orderBy(col("from_type"), col("to_type"))

  /** Within-session (from_type, to_type, n) transition counts — the
    * shared front half of q116 (chain probabilities) and q221
    * (stationary distribution).
    */
  private[graft] def sessionTransitionCounts(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val ev = events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .withColumn("new_sess",
        when(col("gap").isNull || col("gap") > 30L * 60 * 1000000, 1).otherwise(0))
      .withColumn("sess", sum(col("new_sess")).over(
        Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    ev
      .withColumn("from_type", lag(col("event_type"), 1).over(
        Window.partitionBy(col("user_id"), col("sess"))
          .orderBy(col("us"), col("event_id"))))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** q237: transition dwell times — for each within-session
    * (from_type → to_type) transition, how long users linger before
    * making it: median and p90 of the gap in µs. The timing layer on
    * top of q116's transition PROBABILITIES — "view→purchase happens
    * 12% of the time" (q116) vs "and takes 40 s when it does" (this).
    *
    * Determinism: gaps are exact integer µs; the two exact
    * interpolated percentiles are the q42-proven Spark `percentile` ≡
    * DuckDB `quantile_cont` pairing (interpolation arithmetic over
    * ≤ 2⁵³ integers is IEEE-identical).
    *
    * Scale shape: the same ONE user-keyed window shuffle as q116,
    * then a |types|²-keyed percentile rollup.
    */
  def transitionDwell(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val ev = events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .withColumn("new_sess",
        when(col("gap").isNull || col("gap") > 30L * 60 * 1000000, 1).otherwise(0))
      .withColumn("sess", sum(col("new_sess")).over(
        Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wSess = Window.partitionBy(col("user_id"), col("sess"))
      .orderBy(col("us"), col("event_id"))
    ev
      .withColumn("from_type", lag(col("event_type"), 1).over(wSess))
      .withColumn("dwell", col("us") - lag(col("us"), 1).over(wSess))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"),
        expr("percentile(dwell, 0.5)").as("med_dwell_us"),
        expr("percentile(dwell, 0.9)").as("p90_dwell_us"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** q238: linear multi-touch attribution decay curve — every
    * purchase's value is split EQUALLY across that user's clicks in
    * the preceding 7 days, and the report buckets the credited value
    * by click→purchase lag in whole days. Where q113 answers
    * "which click gets the credit" (last-touch), this answers "how
    * does influence decay with distance" — the curve that justifies
    * (or kills) the 7-day attribution window itself.
    *
    * Determinism: the per-click credit value/n quantizes to integer
    * micro-units per credit row (one double division of a raw value
    * by an integer, identical on both engines) and the day buckets
    * are integer µs arithmetic; sums are then order-free integers.
    *
    * Scale shape: purchases join clicks per user with a bounded
    * ±7-day day-bucket band (the q45 range-join discipline: the
    * purchase side replicates to its 8 candidate day buckets, the
    * join is a (user, day)-keyed equi-join, and the residual range
    * predicate filters in-task) — never an inequality NLJ. The
    * per-purchase click count rides a window over the matched pairs.
    */
  def multiTouchDecay(s: SparkSession, d: String): DataFrame = {
    val dayUs = 86400000000L
    val ev = events(s, d).select(col("user_id"), col("event_type"),
      col("value"), unix_micros(col("ts")).as("us"),
      expr("unix_micros(ts) div 86400000000").as("day"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us").as("pus"), col("day").as("pday"),
        col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("us").as("cus"), col("day").as("cday"))
    // replicate each purchase to its 8 candidate click-day buckets
    val banded = purchases
      .select(col("user_id"), col("pus"), col("value"),
        explode(sequence(col("pday") - 7, col("pday"))).as("cday"))
    val matched = banded.join(clicks, Seq("user_id", "cday"))
      .filter(col("cus") <= col("pus") &&
        col("cus") > col("pus") - lit(7 * dayUs))
    val wP = Window.partitionBy(col("user_id"), col("pus"))
    matched
      .withColumn("n_touch", count(lit(1)).over(wP))
      .select(expr("(pus - cus) div 86400000000").as("lag_days"),
        floor(col("value") / col("n_touch").cast("double") * 1e6 + 0.5)
          .cast("long").as("credit_u"))
      .groupBy(col("lag_days"))
      .agg(count(lit(1)).as("n_credits"),
        sum(col("credit_u")).as("credit_units"))
      .select(col("lag_days"), col("n_credits"),
        round(col("credit_units").cast("double") / 1e6, 4).as("credited_value"))
      .orderBy(col("lag_days"))
  }

  /** q252: event debouncing — telemetry streams double-fire (retry
    * storms, UI jitter): per (user, type), maximal bursts of events
    * whose consecutive gaps are ≤ 1 s collapse to their head event
    * (gaps-and-islands, the q181 island key on raw gaps), and the
    * report counts kept vs suppressed per type plus the worst burst.
    * The dedup-adjacent op q159/q182 (exact-key dedup) cannot
    * express: these are DISTINCT events that are semantically one.
    *
    * Determinism: integer µs gaps, integer island arithmetic; the
    * kept-share is one division of exact integers.
    *
    * Scale shape: one (user, type)-keyed window (the per-user family
    * shuffle), then a |types|-keyed rollup over island heads.
    */
  def debounce(s: SparkSession, d: String, windowUs: Long = 1000000L): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("us"), col("event_id"))
    events(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .withColumn("head",
        when(col("gap").isNull || col("gap") > windowUs, 1L).otherwise(0L))
      .withColumn("island", sum(col("head")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("event_type"), col("user_id"), col("island"))
      .agg(count(lit(1)).as("burst_len"))
      .groupBy(col("event_type"))
      .agg(sum(col("burst_len")).as("n_events"),
        count(lit(1)).as("n_kept"),
        max(col("burst_len")).as("max_burst"))
      .select(col("event_type"), col("n_events"), col("n_kept"),
        (col("n_events") - col("n_kept")).as("n_suppressed"),
        col("max_burst"),
        round(col("n_kept").cast("double") / col("n_events").cast("double"), 6)
          .as("kept_share"))
      .orderBy(col("event_type"))
  }

  /** q221: stationary distribution of the q116 session-transition
    * chain by power iteration, in EXACT integer arithmetic (the q130
    * PageRank discipline): transition probabilities quantize to 1e-6
    * units (n·10⁶ div rowtotal — bounded by 10⁶ regardless of corpus
    * size, so every p·pr product stays ≤ 10¹⁸ < 2⁶³ at ANY scale),
    * the distribution lives in 1e-12 units, and each iteration floors
    * per term: p′_j = Σᵢ (pᵢ·prᵢⱼ) div 10⁶. Bit-identical on both
    * engines at any parallelism; mass shaved by the floors (and by
    * sink states with no outgoing transitions) stays in the
    * algorithm's definition.
    *
    * The ITERATION runs driver-side over the collected |types|²
    * transition matrix — the q180/q200-adjudicated shape: the
    * corpus-sized work (the session windows + transition count) is
    * fully distributed; what reaches the driver is the event-type
    * catalog squared (25 numbers here; an event taxonomy is
    * hundreds at most), and 12 scheduler rounds over a 25-number
    * frame would be pure overhead. The oracle unrolls the identical
    * integer recurrence as 12 SQL CTEs.
    */
  def markovStationary(s: SparkSession, d: String, iters: Int = 12): DataFrame = {
    import s.implicits._
    val counts = sessionTransitionCounts(s, d).collect()
      .map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type"),
        r.getAs[Long]("n")))
    val states = (counts.map(_._1) ++ counts.map(_._2)).distinct.sorted
    val k = states.length
    val idx = states.zipWithIndex.toMap
    val rowTot = new Array[Long](k)
    counts.foreach { case (f, _, n) => rowTot(idx(f)) += n }
    val pr = Array.ofDim[Long](k, k)
    // BigInt for the prob construction: n·10⁶ overflows a Long once a
    // single transition count passes ~9.2e12, and the "bounded at ANY
    // corpus size" claim below must cover this step too, not just the
    // p·pr products. Driver-side over |types|² entries, so the BigInt
    // cost is nil; the quotient itself is ≤ 10⁶ and fits trivially.
    counts.foreach { case (f, t, n) =>
      pr(idx(f))(idx(t)) = (BigInt(n) * 1000000 / rowTot(idx(f))).toLong }
    var p = Array.fill(k)(1000000000000L / k)
    var it = 0
    while (it < iters) {
      val p2 = new Array[Long](k)
      var i = 0
      while (i < k) {
        var j = 0
        while (j < k) { p2(j) += p(i) * pr(i)(j) / 1000000L; j += 1 }
        i += 1
      }
      p = p2
      it += 1
    }
    states.zip(p).toSeq.toDF("state", "p_e12").orderBy(col("state"))
  }

  /** Unrolled integer power-iteration oracle for q221 (mechanically
    * generated so the SQL provably matches the Scala recurrence).
    */
  private[graft] def stationaryOracle(iters: Int): String = {
    val base =
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(date_trunc('microseconds', ts)) AS us
        |  FROM events),
        |g AS (
        |  SELECT *, CASE WHEN lg IS NULL OR us - lg > 1800000000
        |                 THEN 1 ELSE 0 END AS new_sess
        |  FROM (SELECT *, lag(us) OVER (PARTITION BY user_id
        |          ORDER BY us, event_id) AS lg FROM e)),
        |s AS (
        |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM g),
        |t AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id, sess
        |      ORDER BY us, event_id) AS from_type
        |  FROM s),
        |tc AS MATERIALIZED (
        |  SELECT from_type, event_type AS to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM t WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |states AS MATERIALIZED (SELECT DISTINCT from_type AS st FROM tc
        |           UNION SELECT DISTINCT to_type FROM tc),
        |rt AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot
        |       FROM tc GROUP BY 1),
        |pr AS MATERIALIZED (
        |       SELECT tc.from_type, tc.to_type, (tc.n * 1000000) // rt.tot AS pr
        |       FROM tc JOIN rt USING (from_type)),
        |kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM states),
        |r0 AS (SELECT st, 1000000000000 // k AS p FROM states CROSS JOIN kk)"""
        .stripMargin
    val iterCtes = (1 to iters).map { i =>
      s"""c$i AS (SELECT pr.to_type AS st,
         |  CAST(sum((r${i - 1}.p * pr.pr) // 1000000) AS BIGINT) AS p
         |  FROM pr JOIN r${i - 1} ON pr.from_type = r${i - 1}.st GROUP BY 1),
         |r$i AS (SELECT states.st, coalesce(c$i.p, 0) AS p
         |  FROM states LEFT JOIN c$i ON states.st = c$i.st)""".stripMargin
    }
    base + ",\n" + iterCtes.mkString(",\n") +
      s"\nSELECT st AS state, CAST(p AS BIGINT) AS p_e12 FROM r$iters ORDER BY state"
  }

  /** Per-event-type linear trend of `value` over time — grouped OLS
    * from EXACT integer/decimal moments (the q93 covariance discipline
    * extended to regression): x is whole seconds from the group's
    * first event (so x² sums stay exactly representable), y is
    * decimal(28,6); slope/intercept leave the exact domain only for
    * the final double division. One pass for the per-group time
    * origin, one for the moments — two keyed aggregations, no window.
    */
  def valueTrend(s: SparkSession, d: String): DataFrame = {
    def dec(p: Int) = DataTypes.createDecimalType(p, 0)
    val ev = events(s, d)
      .select(col("event_type"), unix_micros(col("ts")).as("us"), col("value"))
    val origin = ev.groupBy(col("event_type")).agg(min(col("us")).as("m"))
    // x: whole seconds from the group origin; y: value in micro-units
    // via floor(+0.5) — every moment is an INTEGER. Per-term products
    // fit a long (x ≤ 3e6 ⇒ x² ≤ 9e12, x·yu ≤ 1.8e15) but their SUMS
    // do not at scale (1e12 rows × 9e12 ≈ 9e24 ≫ 2^63), so every sum
    // accumulates in decimal(38,0) — exact to 1e38, matching DuckDB's
    // HUGEINT widening instead of Spark's silent long wrap. The final
    // slope combination leaves the exact domain only at the double
    // division.
    val mom = ev.join(broadcast(origin), Seq("event_type"))
      .withColumn("x", expr("(us - m) div 1000000"))
      .withColumn("yu", floor(col("value") * 1e6 + 0.5).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(dec(38))).as("sx"),
        sum(col("yu").cast(dec(38))).as("sy"),
        sum((col("x") * col("x")).cast(dec(38))).as("sxx"),
        sum((col("x") * col("yu")).cast(dec(38))).as("sxy"))
    val num = (col("n").cast(dec(18)) * col("sxy")
      - col("sx").cast(dec(19)) * col("sy").cast(dec(19))).cast("double")
    val den = (col("n").cast(dec(18)) * col("sxx").cast(dec(30))
      - col("sx").cast(dec(19)) * col("sx").cast(dec(19))).cast("double")
    val slopeSecU = num / den // micro-units per second
    mom.select(col("event_type"), col("n"),
      round(slopeSecU * 86400 / 1e6, 6).as("slope_per_day"),
      round((col("sy").cast("double") / 1e6
        - slopeSecU / 1e6 * col("sx").cast("double")) / col("n"), 4).as("intercept"))
      .orderBy(col("event_type"))
  }

  /** Time-weighted average value per user (each reading holds until
    * the next — the sensor/metrics integral): Σ vᵢ·(tᵢ₊₁−tᵢ) / span,
    * in exact decimal·µs arithmetic until the final division. One
    * user-keyed sort carries the lead(); users with a single event
    * (zero span) are excluded on both engines.
    */
  def timeWeightedAvg(s: SparkSession, d: String): DataFrame = {
    // (18,6)×(13,0): stays inside DuckDB's 38-digit product cap and
    // Spark computes it without scale adjustment — exact on both
    val DecV = DataTypes.createDecimalType(18, 6)
    val DecT = DataTypes.createDecimalType(13, 0)
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("value"))
      .withColumn("hold_us", lead(col("us"), 1).over(w) - col("us"))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("hold_us").isNotNull,
          col("value").cast(DecV) * col("hold_us").cast(DecT))).as("wsum"),
        (max(col("us")) - min(col("us"))).as("span_us"),
        count(lit(1)).as("n_events"))
      .filter(col("span_us") > 0)
      .select(col("user_id"), col("n_events"),
        round(col("wsum").cast("double") / col("span_us"), 4).as("twa"))
      .orderBy(col("user_id"))
  }

  /** Winsorized robust mean per event type: values clamped to the
    * [p05, p95] continuous-percentile band before averaging — the
    * standard outlier-robust aggregate for metrics pipelines.
    *
    * Scale shape: the 5-row bounds table comes from one keyed
    * aggregation and is broadcast back, so the clamp is map-side; the
    * final aggregate reuses the same event_type key. No row-level
    * window, no second wide shuffle. Sums ride the DECIMAL(28,6)
    * float-aggregate discipline so the report rounding is
    * order-independent across core counts.
    */
  def winsorize(s: SparkSession, d: String): DataFrame = {
    val Dec = DataTypes.createDecimalType(28, 6)
    val ev = events(s, d).select(col("event_type"), col("value"))
    val bounds = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.05)").as("lo"),
        expr("percentile(value, 0.95)").as("hi"))
    ev.join(broadcast(bounds), Seq("event_type"))
      .withColumn("w", least(greatest(col("value"), col("lo")), col("hi")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        // decimal-exact sum, ONE double division, then round: engines
        // see the same dividend bits, so the quotient rounds alike
        round(sum(col("value").cast(Dec)).cast("double") / count(lit(1)), 4)
          .as("avg_raw"),
        round(sum(col("w").cast(Dec)).cast("double") / count(lit(1)), 4)
          .as("avg_winsor"),
        sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"))
      .orderBy(col("event_type"))
  }

  /** Deterministic A/B experiment read-out: users hash-bucketed into
    * two arms (md5 of the salted user_id — re-runs and late data land
    * in the same arm; never rand()), then per event type the arm
    * means, their difference, and the Welch z statistic from exact
    * decimal moments (Σv, Σv²) — variance assembled in double only at
    * the end, so aggregation order cannot flip the rounding.
    *
    * Scale shape: arm assignment is a map-side hash; the single
    * shuffle is the (event_type)-keyed moment aggregation with
    * map-side partials. Nothing is per-user stateful.
    */
  def abLift(s: SparkSession, d: String): DataFrame = {
    val Dec = DataTypes.createDecimalType(28, 6)
    val arm = when(pmod(conv(substring(md5(concat(lit("ab|"),
      col("user_id"))), 1, 15), 16, 10).cast("long"), lit(2)) === 0, "A")
      .otherwise("B")
    val m = events(s, d)
      .select(col("event_type"), col("value"), arm.as("arm"))
      .groupBy(col("event_type"), col("arm"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(Dec)).as("sv"),
        sum((col("value") * col("value")).cast(Dec)).as("svv"))
    def side(a: String) = m.filter(col("arm") === a)
      .select(col("event_type"), col("n").as(s"cnt_$a"),
        col("sv").as(s"sv_$a"), col("svv").as(s"svv_$a"))
    def mean(a: String) = col(s"sv_$a").cast("double") / col(s"cnt_$a")
    def varc(a: String) =
      (col(s"svv_$a").cast("double")
        - col(s"sv_$a").cast("double") * col(s"sv_$a").cast("double") / col(s"cnt_$a")) /
        (col(s"cnt_$a") - 1)
    side("A").join(side("B"), Seq("event_type"))
      .select(col("event_type"),
        col("cnt_A").as("n_arm_a"), col("cnt_B").as("n_arm_b"),
        round(mean("A"), 4).as("mean_a"),
        round(mean("B"), 4).as("mean_b"),
        round(mean("B") - mean("A"), 4).as("lift"),
        round((mean("B") - mean("A")) /
          sqrt(varc("A") / col("cnt_A") + varc("B") / col("cnt_B")), 4).as("z"))
      .orderBy(col("event_type"))
  }

  /** q173: STREAM-STREAM inner join through the driver gate — the
    * fourth stateful streaming operator in the registry, and the one
    * that exercises Spark's symmetric-hash join state: purchases
    * joined to same-user clicks at most 10 minutes earlier.
    *
    * Both sides carry a 1-hour watermark plus the event-time range
    * condition, which is exactly what lets the state store evict
    * expired click/purchase rows on an unbounded run — the finite
    * AvailableNow backlog here is the gate form of the same topology.
    * Matched pairs append to a distributed parquet sink (no driver
    * memory sink); the deterministic rollup runs batch-side on the
    * joined output.
    *
    * Scale shape: join state is sharded by user_id like any keyed
    * shuffle; per-key state is bounded by the watermark horizon
    * (1 h of events per user), not the stream length.
    *
    * Width 4 (not the streaming gate's usual 8): a stream-stream join
    * opens FOUR state stores per shuffle partition, and at gate scale
    * store open/commit dominates — measured at sf0.1/local[32]:
    * width 8 ≈ 4.1-5.3 s, width 4 ≈ 2.7 s, widths 2/1 no better
    * (r6 task 7; RocksDB was also tried and is ~1.8× SLOWER here —
    * native store setup cost dwarfs this state size). An unbounded
    * production run re-widens with key cardinality.
    */
  def streamClickAttribution(s: SparkSession, d: String): DataFrame =
    streamClickAttributionN(s, d, 4)

  private[graft] def streamClickAttributionN(s: SparkSession, d: String,
      width: Int): DataFrame = {
    val path = s"$d/events.parquet"
    val out = graft.util.TmpDirs.scratch("stream-join")
    // see StreamTuning: four state stores per shuffle partition here.
    // INNER join = emission-on-arrival; the final no-data batch only
    // evicts state (emits nothing) — skip it (measured 2.86→2.17 s,
    // hash-identical; StreamTuning.withNoDataSkip scaladoc)
    graft.util.StreamTuning.withNoDataSkip(s) {
      graft.util.StreamTuning.withShuffle(s, width) {
        streamClickAttributionInner(s, d, path, out)
      }
    }
  }

  private def streamClickAttributionInner(s: SparkSession, d: String,
      path: String, out: String): DataFrame = {
    def src = graft.util.Tables.normalizeTs(
      s.readStream.schema(graft.util.Tables.table(s, d, "events").schema)
        .parquet(s"$d/events.parquet*"))
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val pairs = purchases.join(clicks,
        col("c_user") === col("p_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES"))
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("click_id"))
    graft.util.StreamTuning.drain(pairs) { (batch, _) =>
      batch.write.mode("append").parquet(out)
    }
    s.read.parquet(out)
      .groupBy(col("user_id"))
      .agg(countDistinct(col("purchase_id")).as("n_purchases"),
        count(lit(1)).as("n_pairs"))
      .orderBy(col("user_id"))
  }

  /** q310: stream-stream LEFT OUTER interval join — the attribution
    * question q173's inner form cannot answer: purchases WITHOUT a
    * qualifying prior click (the "un-attributed conversion" row).
    * Matched pairs emit with inner semantics as batches arrive;
    * an unmatched purchase emits with a NULL click only once the
    * watermark proves no qualifying click can still arrive — on the
    * finite AvailableNow backlog that eviction fence is the final
    * state watermark, which the gate computes from the data and the
    * oracle literalizes (the q274/q275 empirical-fence discipline;
    * fence measured identical at all three fixture sfs).
    *
    * Scale shape: the same user-sharded symmetric-hash join state as
    * q173 (watermark-horizon bounded per key) plus the outer-side
    * null emission at eviction — no extra state, no extra shuffle;
    * the per-user rollup keeps the gate row count |users|, not
    * |purchases|.
    */
  /** The q310/q314 topology on an arbitrary event stream — the seam
    * the at-the-fence boundary specs drive with a MemoryStream.
    *
    * Fence provenance (for when a Spark upgrade moves the oracle, not
    * the engine): the measured per-side eviction fences come from
    * `StreamingSymmetricHashJoinExec`'s state-removal predicates,
    * computed by `StreamingSymmetricHashJoinHelper
    * .getStateWatermarkPredicates` from THIS interval condition —
    * purchase state evicts at p_ts < wm, click state at
    * c_ts < wm − 10 min (the side a future row can reach back into
    * through the interval holds state longer), with outer-null
    * emission tied to eviction. If q310/q314 hashes break on a
    * version bump with unchanged fixtures, diff those predicates
    * first.
    */
  private[graft] def outerAttribution(src: DataFrame,
      joinType: String): DataFrame = {
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    purchases.join(clicks,
        col("c_user") === col("p_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES"),
        joinType)
      .select(coalesce(col("p_user"), col("c_user")).as("user_id"),
        col("purchase_id"), col("p_ts"), col("click_id"))
  }

  private[graft] def leftOuterAttribution(src: DataFrame): DataFrame =
    outerAttribution(src, "leftOuter")

  def streamLeftOuterJoin(s: SparkSession, d: String): DataFrame = {
    val path = s"$d/events.parquet"
    val out = graft.util.TmpDirs.scratch("stream-louter-join")
    // 2-batch AvailableNow join drive: unload state on commit
    graft.util.StreamTuning.withUnloadOnCommit(s) {
    graft.util.StreamTuning.withShuffle(s, 4) {
      val src = graft.util.Tables.normalizeTs(
        s.readStream.schema(graft.util.Tables.table(s, d, "events").schema)
          .parquet(s"$d/events.parquet*"))
      graft.util.StreamTuning.drain(leftOuterAttribution(src)) { (batch, id) =>
        batch.write.mode("overwrite").parquet(s"$out/batch_id=$id")
      }
    }
    }
    s.read.parquet(out)
      .groupBy(col("user_id"))
      .agg(count(when(col("click_id").isNotNull, 1)).as("n_pairs"),
        count(when(col("click_id").isNull, 1)).as("n_unmatched_closed"))
      .orderBy(col("user_id"))
  }

  /** q314: stream-stream FULL OUTER interval join — both sides' null
    * emission in one query, which exercises the PER-SIDE state
    * watermarks: the purchase side evicts (and emits its nulls) at
    * the q310 fence (p_ts < wm), while the click side must ALSO
    * outlive the 10-minute interval a future purchase could reach
    * back through, so its fence sits 10 minutes earlier (c_ts < wm −
    * 10 min — measured: the symmetric candidate overcounts unmatched
    * clicks at every sf, see the oracle comment). Gate: per-user
    * counts of matched pairs and each side's closed unmatched rows.
    *
    * Scale shape: same symmetric-hash join state as q173/q310 — full
    * outer adds no state, only emission at eviction on both sides.
    */
  def streamFullOuterJoin(s: SparkSession, d: String): DataFrame = {
    val path = s"$d/events.parquet"
    val out = graft.util.TmpDirs.scratch("stream-fouter-join")
    // 2-batch AvailableNow join drive: unload state on commit
    graft.util.StreamTuning.withUnloadOnCommit(s) {
    graft.util.StreamTuning.withShuffle(s, 4) {
      val src = graft.util.Tables.normalizeTs(
        s.readStream.schema(graft.util.Tables.table(s, d, "events").schema)
          .parquet(s"$d/events.parquet*"))
      graft.util.StreamTuning.drain(outerAttribution(src, "fullOuter")) {
        (batch, id) =>
          batch.write.mode("overwrite").parquet(s"$out/batch_id=$id")
      }
    }
    }
    s.read.parquet(out)
      .groupBy(col("user_id"))
      .agg(
        count(when(col("purchase_id").isNotNull &&
          col("click_id").isNotNull, 1)).as("n_pairs"),
        count(when(col("click_id").isNull, 1)).as("n_unmatched_purchases"),
        count(when(col("purchase_id").isNull, 1)).as("n_unmatched_clicks"))
      .orderBy(col("user_id"))
  }

  /** q315: HOT DIMENSION REFRESH mid-stream — the pump's X1 config
    * hot-reload discipline applied to a DATA dimension: the
    * enrichment dim is RE-READ every micro-batch (no broadcast pinned
    * across the run), so an updated dim takes effect on the very next
    * batch with no stream restart. Driven deterministically: run 1
    * drains exactly the first chronological chunk under dim v1
    * (segment = custkey mod 3), the dim is overwritten to v2 (mod 5),
    * and run 2 resumes from the same checkpoint to drain the rest —
    * so chunk membership decides which dim version enriched each
    * event, and the oracle literalizes that via the same exact
    * percentile boundary the split used. Batches land in
    * exactly-once `batch_id=N` overwrite dirs.
    *
    * Scale shape: the per-batch dim read is one broadcast-sized scan
    * (the price of freshness — a production run amortizes it with a
    * TTL cache); the stream side is never shuffled.
    */
  def streamDimRefresh(s: SparkSession, d: String): DataFrame = {
    val live = graft.util.TmpDirs.scratch("dimrefresh-live")
    val out = graft.util.TmpDirs.scratch("dimrefresh-out")
    val ckpt = graft.util.TmpDirs.scratch("dimrefresh-ckpt")
    val dimDir = graft.util.TmpDirs.scratch("dimrefresh-dim")
    // the backlog chunks come from the SHARED memoized chrono split
    // (identical chunking: same chronoSplit, same n=3) instead of a
    // per-call rebuild — the split is fixture prep (BuildCost-ledgered
    // via ensureChronoChunks), not the gate's timed hot-reload work.
    // reveal() HARDLINKS a chunk into the live dir (same inode → the
    // fixture's mtime pin, i.e. arrival order, is preserved; the
    // fixture is never mutated), where it used to move the per-call
    // copy.
    val (split, schema) = ensureChronoChunks(s, d)
    def dim(mod: Int) = customer(s, d)
      .select(col("c_custkey").as("user_id"),
        concat(lit("s"), pmod(col("c_custkey"), lit(mod))).as("segment"))
    def reveal(k: Int): Unit = {
      val from = java.nio.file.Paths.get(s"$split/c$k")
      val to = java.nio.file.Paths.get(s"$live/c$k")
      java.nio.file.Files.createDirectories(to)
      val ls = java.nio.file.Files.list(from)
      try ls.forEach { f =>
        if (java.nio.file.Files.isRegularFile(f)) {
          val t = to.resolve(f.getFileName)
          try java.nio.file.Files.createLink(t, f)
          catch { case _: UnsupportedOperationException =>
            java.nio.file.Files.copy(f, t,
              java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
          }
        }
      } finally ls.close()
    }
    def drain(): Unit = graft.util.StreamTuning.withShuffle(s, 8) {
      val events = graft.util.Tables.normalizeTs(
          graft.util.OrderedFeed.stream(s, live, schema))
        .select(col("user_id"), col("event_id"), col("ts"))
      graft.util.StreamTuning.drain(events, checkpoint = Some(ckpt)) {
        (batch, id) =>
          val ss = batch.sparkSession
          // the hot-reload seam: the dim is read fresh EVERY batch
          val dimNow = ss.read.parquet(dimDir)
          batch.join(broadcast(dimNow), Seq("user_id"))
            .select(col("user_id"), col("event_id"), col("segment"))
            .write.mode("overwrite").parquet(s"$out/batch_id=$id")
      }
    }
    dim(3).coalesce(1).write.mode("overwrite").parquet(dimDir)
    reveal(0)
    drain() // run 1: chunk 0 under dim v1
    val committed = graft.util.StreamTuning.committedBatches(ckpt)
    require(committed == Seq(0L),
      s"run 1 must drain exactly the first chunk; committed $committed")
    dim(5).coalesce(1).write.mode("overwrite").parquet(dimDir)
    reveal(1); reveal(2)
    drain() // run 2: the rest, resumed from the checkpoint, under v2
    s.read.parquet(out)
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("user_id")).as("user_id_sum"))
      .orderBy(col("segment"))
  }

  /** q313: STREAMING AS-OF JOIN through the driver gate — the
    * unbounded form of q44 (purchase → the user's latest at-or-before
    * click), driven over a chronologically-chunked backlog so arrival
    * order respects event time (the append-only ingest contract the
    * emit-once semantics require: a later-arriving earlier click is
    * not retro-matched, and chronological chunks make that case
    * impossible — so streamed == batch exactly). State is ONE tuple
    * per user (the minimal as-of state: the latest click), purchases
    * emit immediately with the current match; ties at the same
    * microsecond resolve by the explicit (ts, kind, id) in-batch sort
    * (clicks before purchases, ascending id — the last same-µs click
    * wins), which the oracle literalizes.
    *
    * Scale shape: per-user O(1) state (8+8 bytes), no watermark
    * needed for correctness (state never grows past one tuple/user);
    * shuffle carries (user, id, type, ts) — the same bytes as the
    * batch as-of's sort key.
    */
  def streamAsofJoin(s: SparkSession, d: String): DataFrame = {
    val out = graft.util.TmpDirs.scratch("stream-asof")
    val (split, schema) = ensureChronoChunks(s, d)
    graft.util.StreamTuning.withShuffle(s, 4) {
      val src = graft.util.Tables.normalizeTs(
        graft.util.OrderedFeed.stream(s, split, schema))
      graft.util.StreamTuning.drain(
          graft.streaming.EventStreams.purchaseAsofClick(src).toDF()) {
        (batch, id) =>
          batch.write.mode("overwrite").parquet(s"$out/batch_id=$id")
      }
    }
    s.read.parquet(out)
      .select(col("user_id"), col("purchase_id"),
        coalesce(col("click_id"), lit(-1L)).as("click_id"),
        coalesce(col("gap_us"), lit(-1L)).as("gap_us"))
      .orderBy(col("user_id"), col("purchase_id"))
  }

  /** q274: CHAINED stateful streaming — the q173 stream-stream join
    * feeding a windowed aggregation in ONE streaming query, i.e. two
    * StateStore-backed operators in one plan (Spark's multi-stateful
    * support; EventStreamsSpec pins the two-operator physical plan).
    * Purchases join same-user clicks at most 10 minutes earlier (both
    * sides 1-hour watermark), and the matched pairs roll up into
    * HOURLY purchase-time windows inside the same query, append mode:
    * a window emits exactly once, when the propagated watermark
    * passes its end.
    *
    * Emission semantics: a window is held until the watermark the
    * JOIN propagates passes its end — measured (and spec-pinned) as
    * min(click wm, purchase wm) − 10 min: the interval condition's
    * state watermark delays the propagated watermark, so the fence is
    * max event time − 1 h − 10 min. In principle the gate row set is
    * therefore the batch rollup MINUS the last hours of windows. On the
    * fixtures the fence never bites — the latest joined window ends
    * hours before any candidate fence at every sf (verified at
    * sf0.001/0.01/0.1: streamed rows == full batch rollup) — so the
    * oracle is the plain batch join + hourly rollup, and the fence
    * behavior itself is pinned by EventStreamsSpec with a synthetic
    * stream whose tail windows DO straddle the fence.
    *
    * Scale shape: identical to q173 for the join (user-sharded
    * symmetric hash state bounded by the watermark horizon); the
    * second stateful operator adds an hourly-window agg whose state
    * is one row per OPEN window — bounded by the watermark, not the
    * stream. Width 4 for the same store-count reason as q173.
    */
  /** The two-stateful-operator plan itself — stream-stream join into
    * a windowed aggregation — over any (user_id, event_id, event_type,
    * ts) stream; the seam EventStreamsSpec drives with a MemoryStream
    * to pin the physical plan and the append-mode fence.
    *
    * Fence provenance: the measured fence (min side wm − 10 min) is
    * the watermark the JOIN propagates to the downstream agg —
    * Spark 4's per-operator watermark propagation
    * (`WatermarkPropagator`/`PropagateWatermarkSimulator` in
    * IncrementalExecution) reduces the join's output watermark by the
    * interval condition's state-watermark delta
    * (`StreamingSymmetricHashJoinHelper.getStateWatermarkPredicates`),
    * and the window emits when window_end ≤ that propagated value. If
    * the q274/q287 hashes break on a Spark version bump with
    * unchanged fixtures, diff that propagation first.
    */
  private[graft] def chainedJoinWindowAgg(src: DataFrame): DataFrame = {
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    purchases.join(clicks,
        col("c_user") === col("p_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES"))
      .groupBy(window(col("p_ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n_pairs"))
      .select(date_format(col("w.start"), TsFmt).as("hour_start"),
        col("n_pairs"))
  }

  def streamJoinWindowed(s: SparkSession, d: String): DataFrame = {
    val path = s"$d/events.parquet"
    val out = graft.util.TmpDirs.scratch("stream-join-win")
    // 2-batch AvailableNow drive with two stateful operators: unload
    // state stores as each batch commits (StreamTuning scaladoc)
    graft.util.StreamTuning.withUnloadOnCommit(s) {
    graft.util.StreamTuning.withShuffle(s, 4) {
      val src = graft.util.Tables.normalizeTs(
        s.readStream.schema(graft.util.Tables.table(s, d, "events").schema)
          .parquet(s"$d/events.parquet*"))
      graft.util.StreamTuning.drain(chainedJoinWindowAgg(src)) { (batch, _) =>
        batch.write.mode("append").parquet(out)
      }
      // make the append fence EXPLICIT in the gate: the oracle's
      // validity rests on "the fence never bites on the fixtures"
      // (every joined window closes before the propagated watermark's
      // fence). Emit closed = window_end ≤ model-fence as a hashed
      // column, where the model fence is min(click wm, purchase wm)
      // − 10 min = min(max c_ts, max p_ts) − 70 min (the measured
      // propagation, see scaladoc above) — a fixture regeneration
      // with straddling tail windows now turns the gate red AT the
      // open windows (closed=false + missing streamed rows) instead
      // of silently. 1-row bounded aggregate, q281-bounds style.
      val mm = graft.util.Tables.events(s, d)
        .agg(
          max(when(col("event_type") === "click", unix_micros(col("ts")))).as("mc"),
          max(when(col("event_type") === "purchase", unix_micros(col("ts")))).as("mp"))
        .select(least(col("mc"), col("mp"))).collect()(0).getLong(0)
      val fenceUs = mm - 4200000000L // 70 min in µs
      s.read.parquet(out)
        .withColumn("closed",
          unix_micros(to_timestamp(col("hour_start"), TsFmt)) +
            lit(3600000000L) <= lit(fenceUs))
        .orderBy(col("hour_start"))
    }
    }
  }

  /** q287: CHECKPOINT-RESTART recovery for the chained stateful
    * stream — the reference's single strongest guarantee (resume from
    * persisted offsets, `storage/processedstore.go:4-7`, re-tail at
    * `tail.go:79-85`) applied to the hardest state shape in the
    * engine: q274's two-StateStore plan (stream-stream join feeding a
    * windowed aggregation, append mode).
    *
    * The backlog is split into 3 chronological chunks (exact-percentile
    * ts boundaries, so each micro-batch only ever advances the
    * watermark — no chunk can late-drop another's rows) and driven
    * through `StreamTuning.crashRestart` with the crash in batch 1:
    * Spark replays batch 1 from the offset log against the state
    * committed by batch 0, and the `batch_id=N` overwrite dirs replace
    * the orphaned write instead of double-appending. The gate is the
    * union of both runs' emitted rows, raw (NOT re-aggregated, so any
    * duplicated or lost window row breaks the row-count/hash match),
    * against the same batch rollup + fence-flag oracle as q274:
    * rows(run1 ∪ run2) == rows(single uninterrupted run) == oracle,
    * zero dups.
    *
    * Scale shape: identical to q274 (user-sharded join state + one row
    * per open window, both watermark-bounded); recovery cost is
    * O(state at the last commit + one replayed batch), never a
    * reprocess of the full history.
    */
  /** Split the events table into `n` chronological one-file chunks
    * (exact-percentile ts boundaries — every micro-batch only ever
    * advances the watermark, so no chunk can late-drop another's
    * rows), mod-time-ordered so the file source processes them in
    * chunk order. Returns the chunk schema. n = 3 keeps the stateful
    * trigger count (the dominant cost — each trigger commits every
    * state store twice across crash + restart) at the minimum that
    * still proves mid-backlog recovery: one committed batch, one
    * crashed-and-replayed, one never-seen-by-run-1.
    */
  private val chronoMemo = new Memo[
    (SparkSession, String, Int), (String, org.apache.spark.sql.types.StructType)]

  /** The chronological event chunks, built ONCE per (session, sf, n)
    * and shared READ-ONLY by every consumer that only streams from the
    * dir (q287/q296/q313 — three percentile aggs + nine chunk writes
    * per pass collapse into one). q315 must NOT use this: its
    * stage→reveal flow MOVES the chunk dirs, so it builds its own
    * consumable copy via chronoSplit.
    */
  private[graft] def ensureChronoChunks(s: SparkSession, d: String,
      n: Int = 3): (String, org.apache.spark.sql.types.StructType) =
    chronoMemo((s, d, n), s"chrono_chunks_$n") {
      val split = graft.util.TmpDirs.scratchFor(s"chrono-split-$n", d)
      (split, chronoSplit(s, d, split, n))
    }

  private def chronoSplit(s: SparkSession, d: String, split: String,
      n: Int = 3): org.apache.spark.sql.types.StructType = {
    val ev = graft.util.Tables.normalizeTs(
      s.read.parquet(s"$d/events.parquet"))
    // exact-percentile chronological boundaries (1-row bounded agg)
    val fr = (1 until n).map(i => s"${i.toDouble / n}D").mkString(", ")
    val bs = ev.agg(expr(
        s"percentile(unix_micros(ts), array($fr))").as("b"))
      .collect()(0).getSeq[Double](0)
    val us = unix_micros(col("ts"))
    (0 until n).foreach { k =>
      val lo = if (k == 0) lit(true) else us > lit(bs(k - 1))
      val hi = if (k == n - 1) lit(true) else us <= lit(bs(k))
      graft.util.OrderedFeed.writeChunk(s"$split/c$k", k, ev.filter(lo && hi))
    }
    s.read.parquet(s"$split/c0").schema
  }

  /** The q287 crash/replay drive, ONCE per (session, sf) — the
    * deterministic restart fixture is built state, not per-probe work
    * (the q304/q318/q319 restart-family discipline): gates re-read
    * the batch-keyed sink dirs; first-touch cost lands in the
    * BuildCost ledger (bench `builds`).
    */
  private val restartRecMemo = new Memo[(SparkSession, String), String]

  private def ensureRestartRecovery(s: SparkSession, d: String): String =
    restartRecMemo((s, d), "q287_restart_drive") {
      val out = graft.util.TmpDirs.scratchFor("restart-out", d)
      val ckpt = graft.util.TmpDirs.scratchFor("restart-ckpt", d)
      val (split, schema) = ensureChronoChunks(s, d)
      val src = graft.util.Tables.normalizeTs(
        graft.util.OrderedFeed.stream(s, split, schema))
      graft.util.StreamTuning.crashRestart(s, chainedJoinWindowAgg(src),
          ckpt, crashAt = 1L, width = 4) { (batch, id, _) =>
        batch.write.mode("overwrite").parquet(s"$out/batch_id=$id")
      }
      out
    }

  def streamRestartRecovery(s: SparkSession, d: String): DataFrame = {
    val path = s"$d/events.parquet"
    val out = ensureRestartRecovery(s, d)
    // the q274 fence flag, over the same full event set (the chunks
    // partition it exactly)
    val ev = graft.util.Tables.events(s, d)
    val us = unix_micros(col("ts"))
    val mm = ev.agg(
        max(when(col("event_type") === "click", us)).as("mc"),
        max(when(col("event_type") === "purchase", us)).as("mp"))
      .select(least(col("mc"), col("mp"))).collect()(0).getLong(0)
    val fenceUs = mm - 4200000000L
    graft.util.Mounts.parquet(s, out)
      .select(col("hour_start"), col("n_pairs"))
      .withColumn("closed",
        unix_micros(to_timestamp(col("hour_start"), TsFmt)) +
          lit(3600000000L) <= lit(fenceUs))
      .orderBy(col("hour_start"))
  }

  /** q296: checkpoint-restart recovery for the SESSION-WINDOW state
    * shape — q287's crash/replay discipline applied to q275's
    * append-mode sessionization (merging session state, the state
    * shape a join+window chain does not cover). Same chunked backlog,
    * same worst-window injected crash in the second batch, same
    * exactly-once-by-layout sink; the union of both runs must hash
    * equal to the q275 closed-sessions oracle — sessions that merge
    * ACROSS the crash boundary (state restored from the last commit)
    * must close identically to an uninterrupted run.
    */
  private val sessRestartMemo = new Memo[(SparkSession, String), String]

  private def ensureSessionsRestart(s: SparkSession, d: String): String =
    sessRestartMemo((s, d), "q296_sessrestart_drive") {
      val out = graft.util.TmpDirs.scratchFor("sess-restart-out", d)
      val ckpt = graft.util.TmpDirs.scratchFor("sess-restart-ckpt", d)
      val (split, schema) = ensureChronoChunks(s, d)
      val agg = graft.util.Tables.normalizeTs(
          graft.util.OrderedFeed.stream(s, split, schema))
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"),
          col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          date_format(col("w.start"), TsFmt).as("session_start"),
          col("n_events"))
      graft.util.StreamTuning.crashRestart(s, agg, ckpt, crashAt = 1L,
          width = 8) { (batch, id, _) =>
        batch.write.mode("overwrite").parquet(s"$out/batch_id=$id")
      }
      out
    }

  def streamSessionsRestart(s: SparkSession, d: String): DataFrame = {
    val out = ensureSessionsRestart(s, d)
    // write-once fixture output: memoized mount (r16 Mounts discipline)
    graft.util.Mounts.parquet(s, out)
      .select(col("user_id"), col("session_start"), col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** q176: Shannon entropy of each user's event-type mix — the
    * behavioral-diversity score (entropy 0 = single-type bot-like
    * traffic; high entropy = organic usage).
    *
    * Determinism: the q129 micro-nat discipline — each type's term
    * (c/n)·ln(n/c) is computed from exact integer (c, n), quantized
    * ONCE to integer nano-nats (floor(x·1e9 + 0.5)), and the per-user
    * aggregation is exact integer addition: order-free at any core
    * count, bit-identical in DuckDB.
    *
    * Scale shape: one (user, type)-keyed map-side-combinable count,
    * a user-keyed window over ≤ |types| rows per user for the total,
    * and one user-keyed rollup — all shuffles carry (user, type, long)
    * triples, never events.
    */
  def typeEntropy(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .withColumn("n", sum(col("c")).over(byUser))
      .withColumn("q", floor(
        (col("c").cast("double") / col("n").cast("double"))
          * log(col("n").cast("double") / col("c").cast("double"))
          * 1e9 + lit(0.5)).cast("long"))
      .groupBy(col("user_id"))
      .agg(max(col("n")).as("n_events"),
        count(lit(1)).as("n_types"),
        round(sum(col("q")).cast("double") / 1e9, 6).as("entropy_nat"))
      .orderBy(col("user_id"))
  }

  /** q177: CUSUM changepoint detection on daily order revenue — the
    * level-shift locator ("when did the business change"). For day t
    * (1-indexed over the T observed days), the centered cumulative sum
    * is prefix_t − t·(S/T); we scale by T to stay integral:
    * dev_t = T·prefix_t − t·S, an EXACT integer in decimal(38,0)
    * (T·prefix at 100 TB is ~10¹⁹⁺ and would wrap int64). The top-5
    * days by |dev| are emitted with the conventional dollars-scale
    * CUSUM (dev/(T·100¢)), doubles appearing only in that final
    * projection.
    *
    * Scale shape: the only corpus-sized stage is the day-keyed revenue
    * rollup; the prefix-sum window and ranking run on the CALENDAR-
    * sized day table (the q162 catalog-window argument), and the 1-row
    * (T, S) total broadcasts (allowed scalar BNLJ).
    */
  def cusumChangepoint(s: SparkSession, d: String): DataFrame = {
    // 28-digit sums × 10-digit scalars: product width 38 stays exact
    // in BOTH engines (DuckDB multiply width = w1+w2 must be ≤ 38)
    val Dec28 = DataTypes.createDecimalType(28, 0)
    val Dec10 = DataTypes.createDecimalType(10, 0)
    val rev = orders(s, d)
      .select(
        datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date"))
          .as("day"),
        col("o_totalprice").cast(DataTypes.createDecimalType(18, 2)).as("p"))
      .groupBy(col("day"))
      .agg((sum(col("p")) * 100).cast("long").as("cents"))
    val tot = rev.agg(count(lit(1)).as("nd"),
      sum(col("cents").cast(Dec28)).as("s_total"))
    val wOrd = Window.orderBy(col("day"))
    rev
      .withColumn("t", row_number().over(wOrd).cast("long"))
      .withColumn("prefix", sum(col("cents").cast(Dec28)).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(tot))
      .withColumn("dev",
        col("nd").cast(Dec10) * col("prefix").cast(Dec28)
          - col("t").cast(Dec10) * col("s_total").cast(Dec28))
      .withColumn("absdev", abs(col("dev")))
      .orderBy(col("absdev").desc, col("day"))
      .limit(5)
      .select(
        date_format(timestamp_micros(col("day") * 86400000000L), "yyyy-MM-dd")
          .as("day"),
        col("t"),
        round(col("dev").cast("double")
          / (col("nd").cast("double") * 100.0), 2).as("cusum_dollars"))
  }

  /** q187: one-way ANOVA — does `value` differ across event types?
    * F = (SSB/(k−1)) / (SSW/(n−k)) plus effect size η² from exact
    * per-group decimal moments (the q63 discipline).
    *
    * The one float-summation hazard — Σ_g S_g²/n_g across groups — is
    * folded SEQUENTIALLY over the event-type-sorted group array
    * (Spark `aggregate` over `sort_array(collect_list(...))` ≡ DuckDB
    * `list_reduce(list(... ORDER BY ...))`), so the addition order is
    * contractually left-to-right on both engines instead of
    * partial-agg-order-dependent.
    *
    * Scale shape: one map-side-combinable aggregation over the corpus;
    * everything after runs on the k-row (≤ |event types|) group table.
    */
  def anovaF(s: SparkSession, d: String): DataFrame = {
    val D9 = DataTypes.createDecimalType(28, 9)
    val per = events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("ng"),
        sum(col("value").cast(D9)).as("sg"),
        sum((col("value") * col("value")).cast(D9)).as("qg"))
    per
      .agg(count(lit(1)).as("k"),
        sum(col("ng")).as("n"),
        sum(col("sg")).as("s_tot"),
        sum(col("qg")).as("q_tot"),
        collect_list(struct(col("event_type"),
          (col("sg").cast("double") * col("sg").cast("double")
            / col("ng").cast("double")).as("t"))).as("terms"))
      .withColumn("ssb_part",
        aggregate(sort_array(col("terms")), lit(0.0),
          (acc, x) => acc + x.getField("t")))
      .select(col("k"), col("n"),
        round(col("ssb_part")
          - col("s_tot").cast("double") * col("s_tot").cast("double")
            / col("n").cast("double"), 2).as("ssb"),
        round(col("q_tot").cast("double") - col("ssb_part"), 2).as("ssw"),
        round(((col("ssb_part")
          - col("s_tot").cast("double") * col("s_tot").cast("double")
            / col("n").cast("double")) / (col("k") - 1).cast("double"))
          / ((col("q_tot").cast("double") - col("ssb_part"))
            / (col("n") - col("k")).cast("double")), 4).as("f_stat"),
        round((col("ssb_part")
          - col("s_tot").cast("double") * col("s_tot").cast("double")
            / col("n").cast("double"))
          / (col("q_tot").cast("double")
            - col("s_tot").cast("double") * col("s_tot").cast("double")
              / col("n").cast("double")), 6).as("eta_sq"))
  }

  /** q189: Spearman rank correlation between `value` and the json
    * payload field `k`, per event type — the monotone-association
    * statistic that (unlike q63's Pearson) ignores outliers and
    * nonlinearity.
    *
    * Average ranks with ties are kept INTEGER by doubling:
    * 2·avg_rank = 2·min_rank + (tie_count − 1); Pearson is invariant
    * under the affine map, so the statistic is unchanged and every
    * moment is an exact decimal integer (the q169 discipline —
    * products taken decimal×decimal; rank sums at 10¹⁰ rows would
    * wrap int64). One double assembly at the end.
    *
    * Scale shape: two type-keyed rank windows + one type-keyed moment
    * rollup — the windows sort within event type only (5 partitions of
    * n/5 rows; a skewed type would range-partition WITHIN the type by
    * value, the q163 two-pass shape).
    */
  def spearman(s: SparkSession, d: String): DataFrame = {
    val Dec = DataTypes.createDecimalType(38, 0)
    val wv = Window.partitionBy(col("event_type")).orderBy(col("value"))
    val wvt = Window.partitionBy(col("event_type"), col("value"))
    val wk = Window.partitionBy(col("event_type")).orderBy(col("k"))
    val wkt = Window.partitionBy(col("event_type"), col("k"))
    events(s, d)
      .withColumn("k", from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
        .getField("k"))
      .filter(col("k").isNotNull)
      .withColumn("rv", (lit(2) * rank().over(wv)
        + count(lit(1)).over(wvt) - 1).cast("long"))
      .withColumn("rk", (lit(2) * rank().over(wk)
        + count(lit(1)).over(wkt) - 1).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("rv").cast(Dec)).as("sx"),
        sum(col("rk").cast(Dec)).as("sy"),
        sum(col("rv").cast(Dec) * col("rk").cast(Dec)).as("sxy"),
        sum(col("rv").cast(Dec) * col("rv").cast(Dec)).as("sxx"),
        sum(col("rk").cast(Dec) * col("rk").cast(Dec)).as("syy"))
      .select(col("event_type"), col("n"),
        round((col("n").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
          / sqrt((col("n").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double"))
            * (col("n").cast("double") * col("syy").cast("double")
              - col("sy").cast("double") * col("sy").cast("double"))), 4)
          .as("spearman"))
      .orderBy(col("event_type"))
  }

  /** q193: the transformWithState CUSTOM STATEFUL PROCESSOR through
    * the driver gate — Spark 4's typed arbitrary-state API (the
    * successor of flatMapGroupsWithState: composable ValueState, TTL,
    * timers) on the RocksDB store, computing per-user count / exact
    * decimal sum / max. The sixth streaming operator in the registry,
    * and the one that exercises user-defined state rather than a
    * built-in stateful operator.
    *
    * Determinism: the processor's sum state is an integer micro-unit
    * accumulator (per-row BigDecimal HALF_UP quantization ≡ the
    * oracle's CAST(value AS DECIMAL(28,6))), so emission is exact
    * whatever the row order; count and max are order-free.
    *
    * Scale shape: state is one (long, long, double) triple per user in
    * RocksDB — off-heap, spillable, changelog-checkpointed — sharded
    * by user_id like the batch shuffle; unbounded runs add TTL.
    */
  def streamUserStats(s: SparkSession, d: String): DataFrame =
    graft.util.StreamTuning.withUnloadOnCommit(s) {
    graft.util.StreamTuning.withShuffle(s, 8) {
      val path = s"$d/events.parquet"
      val out = graft.util.TmpDirs.scratch("stream-user-stats")
      val src = graft.util.Tables.normalizeTs(
        s.readStream.schema(graft.util.Tables.table(s, d, "events").schema)
          .parquet(s"$d/events.parquet*"))
      graft.util.StreamTuning.drain(
          graft.streaming.EventStreams.userStats(src).toDF(), "update") {
        (batch, _) => batch.write.mode("append").parquet(out)
      }
      // AvailableNow drains the finite backlog; update-mode emits each
      // user once per batch, so the LAST emission per user is the total
      val w = Window.partitionBy(col("user_id")).orderBy(col("n_events").desc)
      s.read.parquet(out)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
        .orderBy(col("user_id"))
    }
    }

  /** q194: geometric mean of `value` per event type through the custom
    * typed Aggregator tier (`functions.GeoMeanAgg`) — algebraic state
    * (Σ nano-nat ln, count), map-side partials, one 16-byte buffer per
    * group × partition on the shuffle. The exact integer nano-nat sum
    * is emitted alongside the rounded mean as the hash-gate anchor.
    * Non-positive values are filtered BEFORE the groupBy (mirroring
    * the oracle's WHERE value > 0) so an event_type whose values are
    * all ≤ 0 drops out of the group set entirely on both engines,
    * rather than surfacing as a Spark-only (n=0, NaN) row.
    */
  def geoMean(s: SparkSession, d: String): DataFrame = {
    val gm = udaf(graft.functions.GeoMeanAgg)
    events(s, d)
      .filter(col("value") > 0)
      .groupBy(col("event_type"))
      .agg(gm(col("value")).as("g"))
      .select(col("event_type"),
        col("g._2").as("n"),
        col("g._1").as("sum_nanonats"),
        round(exp(col("g._1").cast("double") / 1e9
          / col("g._2").cast("double")), 4).as("geo_mean"))
      .orderBy(col("event_type"))
  }

  /** q196: WATERMARKED tumbling-window aggregation through the driver
    * gate — the seventh streaming operator, and the one exercising
    * event-time window state with a lateness bound. Complete mode
    * emits every window at the final AvailableNow trigger (append
    * would withhold the last watermark horizon on a finite backlog —
    * the documented trade, mirrored from B1); on an unbounded run the
    * same topology switches to append and the watermark actually
    * evicts closed-window state.
    */
  def streamHourly(s: SparkSession, d: String): DataFrame =
    graft.util.StreamTuning.withShuffle(s, 8) {
      val path = s"$d/events.parquet"
      val out = graft.util.TmpDirs.scratch("stream-hourly")
      val hourly = graft.util.Tables.normalizeTs(
          s.readStream.schema(graft.util.Tables.table(s, d, "events").schema)
            .parquet(s"$d/events.parquet*"))
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast(DataTypes.createDecimalType(28, 6))), 2)
            .cast("double").as("sum_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("hour_start"),
          col("event_type"), col("n"), col("sum_value"))
      graft.util.StreamTuning.drain(hourly, "complete") { (batch, _) =>
        batch.write.mode("overwrite").parquet(out)
      }
      s.read.parquet(out).orderBy(col("hour_start"), col("event_type"))
    }

  /** q222: streaming hourly leaderboard — the real-time "top event
    * types this hour" serving table: windowed streaming counts
    * (complete mode, 2 h watermark) with the per-window top-3 ranking
    * applied to each emitted result inside foreachBatch, so every
    * trigger publishes a fresh, fully-ranked leaderboard (the
    * dashboard-serving topology; q196 publishes the raw windows).
    * Final AvailableNow state is gated against the batch oracle.
    *
    * Scale shape: the streaming agg keys on (window, type) — state is
    * the live window set, not events; the rank runs over the
    * |windows|×|types| RESULT table per trigger, which is
    * catalog-sized. Rank ties break by event_type.
    */
  def streamLeaderboard(s: SparkSession, d: String): DataFrame =
    graft.util.StreamTuning.withUnloadOnCommit(s) {
    graft.util.StreamTuning.withShuffle(s, 8) {
      val path = s"$d/events.parquet"
      val out = graft.util.TmpDirs.scratch("stream-leaderboard")
      val hourly = graft.util.Tables.normalizeTs(
          s.readStream.schema(graft.util.Tables.table(s, d, "events").schema)
            .parquet(s"$d/events.parquet*"))
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("hour_start"),
          col("event_type"), col("n"))
      graft.util.StreamTuning.drain(hourly, "complete") { (batch, _) =>
        val wR = Window.partitionBy(col("hour_start"))
          .orderBy(col("n").desc, col("event_type"))
        batch.withColumn("rnk", row_number().over(wR).cast("long"))
          .filter(col("rnk") <= 3)
          .write.mode("overwrite").parquet(out)
      }
      s.read.parquet(out).orderBy(col("hour_start"), col("rnk"))
    }
    }

  /** q202: stream-static enrichment join through the driver gate — the
    * day-one streaming op the r6 verdict flagged missing: events stream
    * in and each is enriched against the static customer⨝nation
    * dimension (pre-joined once, `cache()`d, BROADCAST into every
    * micro-batch). The plan is completely shuffle-free: the stream side
    * is a map-side hash probe against the broadcast dim, so no state
    * store, no watermark, no exchange — pinned by the
    * EventStreamsSpec plan assertion (no ShuffleExchange in any batch).
    *
    * Scale shape: broadcasting the dim is what keeps a 100 TB/day
    * stream enrichment shuffle-free; a dim over the broadcast
    * threshold degrades to a pre-bucketed shuffled join instead.
    */
  def streamEnrich(s: SparkSession, d: String): DataFrame =
    graft.util.StreamTuning.withShuffle(s, 8) {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val path = s"$d/events.parquet"
      val out = graft.util.TmpDirs.scratch("stream-enrich")
      val dim = customer(s, d)
        .join(nation(s, d),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_mktsegment"), col("n_name"))
        .cache()
      val src = s.readStream.schema(graft.util.Tables.table(s, d, "events").schema)
        .parquet(s"$d/events.parquet*")
        .select(col("event_id"), col("user_id"), col("value"))
      graft.util.StreamTuning.drain(
          graft.streaming.EventStreams.enrichWithDim(src, dim)) { (batch, _) =>
        batch.write.mode("append").parquet(out)
      }
      dim.unpersist()
      s.read.parquet(out).orderBy(col("event_id"))
    }

  /** q199: per-user burstiness of inter-event times —
    * B = (σ−μ)/(σ+μ) over the integer-µs gap sequence (Goh & Barabási
    * 2008): B→−1 periodic, B≈0 Poisson, B→1 bursty. The behavioral
    * fingerprint separating schedulers/bots from humans.
    *
    * Exact integer gap moments (Σg, Σg² in decimal — gap² at month
    * scale is ~10²⁵ and would wrap int64); σ and the final ratio are
    * one double assembly from identical integers.
    *
    * Scale shape: one user-keyed lag window (the q17 sort) + one
    * user-keyed moment rollup — shuffles carry (user, long) pairs.
    */
  def burstiness(s: SparkSession, d: String): DataFrame = {
    val Dec = DataTypes.createDecimalType(38, 0)
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gaps = events(s, d)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(byUser))
      .filter(col("gap").isNotNull)
    def dd(c: String) = col(c).cast("double")
    gaps
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap").cast(Dec)).as("sg"),
        sum(col("gap").cast(Dec) * col("gap").cast(Dec)).as("qg"))
      .select(col("user_id"), col("n_gaps"),
        round(dd("sg") / dd("n_gaps") / 1e6, 3).as("mean_gap_s"),
        round((sqrt((dd("n_gaps") * dd("qg") - dd("sg") * dd("sg")))
          - dd("sg"))
          / (sqrt((dd("n_gaps") * dd("qg") - dd("sg") * dd("sg")))
            + dd("sg")), 4).as("burstiness"))
      .orderBy(col("user_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q202_stream_enrich"   -> streamEnrich _,
    "q199_burstiness"      -> burstiness _,
    "q196_stream_windows"  -> streamHourly _,
    "q222_stream_leaderboard" -> streamLeaderboard _,
    "q194_geo_mean"        -> geoMean _,
    "q193_stream_custom_state" -> streamUserStats _,
    "q189_spearman"        -> spearman _,
    "q187_anova"           -> anovaF _,
    "q176_type_entropy"    -> typeEntropy _,
    "q177_cusum"           -> cusumChangepoint _,
    "q173_stream_join"     -> streamClickAttribution _,
    "q274_stream_join_windowed" -> streamJoinWindowed _,
    "q287_stream_restart_recovery" -> streamRestartRecovery _,
    "q310_stream_left_outer_join" -> streamLeftOuterJoin _,
    "q313_stream_asof_join" -> streamAsofJoin _,
    "q314_stream_full_outer_join" -> streamFullOuterJoin _,
    "q315_stream_dim_refresh" -> streamDimRefresh _,
    "q296_stream_sessions_restart" -> streamSessionsRestart _,
    "q166_winsorize"       -> winsorize _,
    "q172_ab_lift"         -> abLift _,
    "q116_markov"          -> markovTransitions _,
    "q221_markov_stationary" -> ((s: SparkSession, d: String) => markovStationary(s, d)),
    "q237_transition_dwell" -> transitionDwell _,
    "q238_multitouch_decay" -> multiTouchDecay _,
    "q252_debounce" -> ((s: SparkSession, d: String) => debounce(s, d)),
    "q117_value_trend"     -> valueTrend _,
    "q118_time_weighted"   -> timeWeightedAvg _,
    "q113_attribution"     -> attribution _,
    "q115_rolling_distinct" -> rollingDistinct _,
    "q108_scd2"            -> scd2History _,
    "q144_cdc_merge"       -> cdcMerge _,
    "q78_anomalies"        -> anomalies _,
    "q74_full_outer"       -> fullOuterDaily _,
    "q67_funnel"           -> funnel _,
    "q68_retention"        -> retention _,
    "q63_stats_agg"        -> statsAgg _,
    "q43_json_props"       -> jsonProps _,
    "q41_daily_pivot"      -> dailyPivot _,
    "q42_percentiles"      -> valuePercentiles _,
    "q15_events_hourly"    -> hourlyByType _,
    "q16_events_sliding"   -> slidingCounts _,
    "q17_sessionize"       -> sessionize _,
    "q18_session_window"   -> sessionWindowNative _,
    "q154_stream_sessions" -> streamSessions _,
    "q275_stream_sessions_append" -> streamSessionsAppend _,
    "q164_stream_totals"   -> streamUserTotals _,
    "q19_event_type_stats" -> typeStats _,
  )

  /** Shared oracle for q274/q287: the batch click→purchase join +
    * hourly rollup, with the append fence emitted as a hashed
    * `closed` flag (fence = min side watermark − 10 min; see the
    * q274 scaladoc — on the fixtures every window closes, and the
    * flag pins that assumption in the hash).
    */
  private val chainedRollupSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |    date_trunc('microseconds', ts) AS ts
      |  FROM events),
      |p AS (SELECT user_id, event_id AS purchase_id, ts AS pts
      |      FROM e WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, event_id AS click_id, ts AS cts
      |      FROM e WHERE event_type = 'click'),
      |f AS (
      |  SELECT least((SELECT max(epoch_us(cts)) FROM c),
      |               (SELECT max(epoch_us(pts)) FROM p))
      |    - 4200000000 AS fence_us),
      |j AS (
      |  SELECT pts
      |  FROM p JOIN c ON c.user_id = p.user_id
      |    AND cts <= pts AND cts >= pts - INTERVAL 10 MINUTE),
      |h AS (SELECT date_trunc('hour', pts) AS hs FROM j)
      |SELECT strftime(hs, '%Y-%m-%d %H:%M:%S.%f') AS hour_start,
      |  CAST(count(*) AS BIGINT) AS n_pairs,
      |  (epoch_us(hs) + 3600000000 <= (SELECT fence_us FROM f))
      |    AS closed
      |FROM h GROUP BY hs ORDER BY hour_start""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q221_markov_stationary" -> stationaryOracle(12),
    "q252_debounce" ->
      """WITH e AS (
        |  SELECT user_id, event_type, event_id,
        |    epoch_us(date_trunc('microseconds', ts)) AS us
        |  FROM events),
        |g AS (
        |  SELECT *, CASE WHEN lg IS NULL OR us - lg > 1000000
        |                 THEN 1 ELSE 0 END AS head
        |  FROM (SELECT *, lag(us) OVER (PARTITION BY user_id, event_type
        |          ORDER BY us, event_id) AS lg FROM e)),
        |i AS (
        |  SELECT *, sum(head) OVER (PARTITION BY user_id, event_type
        |      ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM g),
        |b AS (
        |  SELECT event_type, user_id, island,
        |    CAST(count(*) AS BIGINT) AS burst_len
        |  FROM i GROUP BY 1, 2, 3)
        |SELECT event_type, CAST(sum(burst_len) AS BIGINT) AS n_events,
        |  CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(sum(burst_len) - count(*) AS BIGINT) AS n_suppressed,
        |  CAST(max(burst_len) AS BIGINT) AS max_burst,
        |  round(CAST(count(*) AS DOUBLE) / CAST(sum(burst_len) AS DOUBLE), 6)
        |    AS kept_share
        |FROM b GROUP BY 1
        |ORDER BY event_type""".stripMargin,
    "q237_transition_dwell" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(date_trunc('microseconds', ts)) AS us
        |  FROM events),
        |g AS (
        |  SELECT *, CASE WHEN lg IS NULL OR us - lg > 1800000000
        |                 THEN 1 ELSE 0 END AS new_sess
        |  FROM (SELECT *, lag(us) OVER (PARTITION BY user_id
        |          ORDER BY us, event_id) AS lg FROM e)),
        |s AS (
        |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM g),
        |t AS (
        |  SELECT event_type,
        |    lag(event_type) OVER w AS from_type,
        |    us - lag(us) OVER w AS dwell
        |  FROM s
        |  WINDOW w AS (PARTITION BY user_id, sess ORDER BY us, event_id))
        |SELECT from_type, event_type AS to_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  quantile_cont(CAST(dwell AS DOUBLE), 0.5) AS med_dwell_us,
        |  quantile_cont(CAST(dwell AS DOUBLE), 0.9) AS p90_dwell_us
        |FROM t WHERE from_type IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY from_type, to_type""".stripMargin,
    "q238_multitouch_decay" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, value,
        |    epoch_us(date_trunc('microseconds', ts)) AS us,
        |    epoch_us(date_trunc('microseconds', ts)) // 86400000000 AS day
        |  FROM events),
        |p AS (SELECT user_id, us AS pus, day AS pday, value
        |      FROM ev WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, us AS cus, day AS cday
        |      FROM ev WHERE event_type = 'click'),
        |m AS (
        |  SELECT p.user_id, p.pus, p.value, c.cus
        |  FROM p JOIN c ON c.user_id = p.user_id
        |    AND c.cday BETWEEN p.pday - 7 AND p.pday
        |    AND c.cus <= p.pus AND c.cus > p.pus - 604800000000),
        |n AS (
        |  SELECT *, count(*) OVER (PARTITION BY user_id, pus) AS n_touch
        |  FROM m),
        |cr AS (
        |  SELECT (pus - cus) // 86400000000 AS lag_days,
        |    CAST(floor(value / CAST(n_touch AS DOUBLE) * 1000000 + 0.5)
        |      AS BIGINT) AS credit_u
        |  FROM n)
        |SELECT lag_days, CAST(count(*) AS BIGINT) AS n_credits,
        |  round(CAST(sum(credit_u) AS DOUBLE) / 1000000, 4)
        |    AS credited_value
        |FROM cr GROUP BY 1
        |ORDER BY lag_days""".stripMargin,
    "q222_stream_leaderboard" ->
      """WITH c AS (
        |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M')
        |      AS hour_start,
        |    event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY hour_start
        |      ORDER BY n DESC, event_type) AS rn
        |  FROM c)
        |SELECT hour_start, event_type, n, CAST(rn AS BIGINT) AS rnk
        |FROM r WHERE rn <= 3
        |ORDER BY hour_start, rnk""".stripMargin,
    "q202_stream_enrich" ->
      """SELECT e.event_id, e.user_id, c.c_mktsegment, n.n_name, e.value
        |FROM events e
        |JOIN customer c ON e.user_id = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |ORDER BY e.event_id""".stripMargin,
    "q199_burstiness" ->
      """WITH ev AS (
        |  SELECT user_id, event_id,
        |    epoch_us(date_trunc('microseconds', ts)) AS us
        |  FROM events),
        |g AS (
        |  SELECT user_id,
        |    us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |      AS gap
        |  FROM ev),
        |f AS (SELECT user_id, gap FROM g WHERE gap IS NOT NULL),
        |m AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |    sum(CAST(gap AS DECIMAL(38,0))) AS sg,
        |    sum(CAST(gap AS DECIMAL(19,0)) * CAST(gap AS DECIMAL(19,0)))
        |      AS qg
        |  FROM f GROUP BY 1)
        |SELECT user_id, n_gaps,
        |  round(CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) / 1e6, 3)
        |    AS mean_gap_s,
        |  round((sqrt(CAST(n_gaps AS DOUBLE) * CAST(qg AS DOUBLE)
        |              - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
        |         - CAST(sg AS DOUBLE))
        |      / (sqrt(CAST(n_gaps AS DOUBLE) * CAST(qg AS DOUBLE)
        |              - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
        |         + CAST(sg AS DOUBLE)), 4) AS burstiness
        |FROM m ORDER BY user_id""".stripMargin,
    "q196_stream_windows" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M')
        |    AS hour_start,
        |  event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(round(sum(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE)
        |    AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour_start, event_type""".stripMargin,
    "q194_geo_mean" ->
      """WITH t AS (
        |  SELECT event_type,
        |    CAST(floor(ln(value) * 1e9 + 0.5) AS BIGINT) AS q
        |  FROM events WHERE value > 0)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(q) AS BIGINT) AS sum_nanonats,
        |  round(exp(CAST(sum(q) AS DOUBLE) / 1e9 / count(*)), 4) AS geo_mean
        |FROM t GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q193_stream_custom_state" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(round(sum(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE)
        |    AS sum_value,
        |  max(value) AS max_value
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "q189_spearman" ->
      """WITH t AS (
        |  SELECT event_type, value,
        |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events),
        |f AS (SELECT * FROM t WHERE k IS NOT NULL),
        |r AS (
        |  SELECT event_type,
        |    2 * rank() OVER (PARTITION BY event_type ORDER BY value)
        |      + count(*) OVER (PARTITION BY event_type, value) - 1 AS rv,
        |    2 * rank() OVER (PARTITION BY event_type ORDER BY k)
        |      + count(*) OVER (PARTITION BY event_type, k) - 1 AS rk
        |  FROM f),
        |m AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(rv AS DECIMAL(38,0))) AS sx,
        |    sum(CAST(rk AS DECIMAL(38,0))) AS sy,
        |    sum(CAST(rv AS DECIMAL(19,0)) * CAST(rk AS DECIMAL(19,0)))
        |      AS sxy,
        |    sum(CAST(rv AS DECIMAL(19,0)) * CAST(rv AS DECIMAL(19,0)))
        |      AS sxx,
        |    sum(CAST(rk AS DECIMAL(19,0)) * CAST(rk AS DECIMAL(19,0)))
        |      AS syy
        |  FROM r GROUP BY 1)
        |SELECT event_type, n,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 4)
        |    AS spearman
        |FROM m ORDER BY event_type""".stripMargin,
    "q187_anova" ->
      """WITH per AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS ng,
        |    sum(CAST(value AS DECIMAL(28,9))) AS sg,
        |    sum(CAST(value * value AS DECIMAL(28,9))) AS qg
        |  FROM events GROUP BY 1),
        |one AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(ng) AS BIGINT) AS n,
        |    CAST(sum(sg) AS DOUBLE) AS s_tot,
        |    CAST(sum(qg) AS DOUBLE) AS q_tot,
        |    list_reduce(
        |      list(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
        |             / CAST(ng AS DOUBLE) ORDER BY event_type),
        |      (acc, x) -> acc + x) AS ssb_part
        |  FROM per)
        |SELECT k, n,
        |  round(ssb_part - s_tot * s_tot / n, 2) AS ssb,
        |  round(q_tot - ssb_part, 2) AS ssw,
        |  round(((ssb_part - s_tot * s_tot / n) / (k - 1))
        |    / ((q_tot - ssb_part) / (n - k)), 4) AS f_stat,
        |  round((ssb_part - s_tot * s_tot / n)
        |    / (q_tot - s_tot * s_tot / n), 6) AS eta_sq
        |FROM one""".stripMargin,
    "q176_type_entropy" ->
      """WITH c AS (
        |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT user_id, c,
        |    CAST(sum(c) OVER (PARTITION BY user_id) AS BIGINT) AS n
        |  FROM c),
        |q AS (
        |  SELECT user_id, n,
        |    CAST(floor((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE))
        |      * 1e9 + 0.5) AS BIGINT) AS q
        |  FROM w)
        |SELECT user_id, max(n) AS n_events,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  round(CAST(sum(q) AS DOUBLE) / 1e9, 6) AS entropy_nat
        |FROM q GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q177_cusum" ->
      """WITH rev AS (
        |  SELECT date_diff('day', DATE '1970-01-01',
        |                   CAST(o_orderdate AS DATE)) AS day,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS nd,
        |    CAST(sum(CAST(cents AS DECIMAL(28,0))) AS DECIMAL(28,0))
        |      AS s_total
        |  FROM rev),
        |pre AS (
        |  SELECT day,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
        |    CAST(sum(CAST(cents AS DECIMAL(28,0)))
        |      OVER (ORDER BY day
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS DECIMAL(28,0)) AS prefix
        |  FROM rev),
        |dev AS (
        |  SELECT day, t, nd,
        |    CAST(nd AS DECIMAL(10,0)) * prefix
        |      - CAST(t AS DECIMAL(10,0)) * s_total AS dev
        |  FROM pre CROSS JOIN tot)
        |SELECT strftime(epoch_ms(day * 86400000), '%Y-%m-%d') AS day, t,
        |  round(CAST(dev AS DOUBLE) / (CAST(nd AS DOUBLE) * 100.0), 2)
        |    AS cusum_dollars
        |FROM dev
        |ORDER BY abs(dev) DESC, day
        |LIMIT 5""".stripMargin,
    "q173_stream_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    date_trunc('microseconds', ts) AS ts
        |  FROM events),
        |p AS (SELECT user_id, event_id AS purchase_id, ts AS pts
        |      FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS click_id, ts AS cts
        |      FROM e WHERE event_type = 'click'),
        |j AS (
        |  SELECT p.user_id, purchase_id, click_id
        |  FROM p JOIN c ON c.user_id = p.user_id
        |    AND cts <= pts AND cts >= pts - INTERVAL 10 MINUTE)
        |SELECT user_id,
        |  CAST(count(DISTINCT purchase_id) AS BIGINT) AS n_purchases,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin,
    // q310: matched pairs carry inner semantics; an unmatched purchase
    // is in the gate iff it was provably evicted — p_ts strictly below
    // the final global watermark (min of both sides' max event time −
    // the 1 h delay). The formula is MEASURED: fence candidates ±10 min
    // diverge from Spark's emission at sf0.1 (20011 vs 20004/20015
    // nulls) and only this one matches at all three sfs; the exact
    // boundary (< not <=) is pinned by Round10bOpsSpec on a synthetic
    // at-the-fence stream.
    "q310_stream_left_outer_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(date_trunc('microseconds', ts)) AS us
        |  FROM events),
        |p AS (SELECT user_id, event_id AS purchase_id, us AS pus
        |      FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS click_id, us AS cus
        |      FROM e WHERE event_type = 'click'),
        |wm(f) AS (
        |  SELECT least((SELECT max(cus) FROM c), (SELECT max(pus) FROM p))
        |    - 3600000000),
        |matched AS (
        |  SELECT p.user_id
        |  FROM p JOIN c ON c.user_id = p.user_id
        |    AND cus <= pus AND cus >= pus - 600000000),
        |unmatched AS (
        |  SELECT p.user_id
        |  FROM p, wm
        |  WHERE p.pus < wm.f AND NOT EXISTS (SELECT 1 FROM c
        |    WHERE c.user_id = p.user_id AND c.cus <= p.pus
        |      AND c.cus >= p.pus - 600000000)),
        |rows_ AS (
        |  SELECT user_id, 1 AS m FROM matched
        |  UNION ALL SELECT user_id, 0 FROM unmatched)
        |SELECT user_id, CAST(sum(m) AS BIGINT) AS n_pairs,
        |  CAST(sum(1 - m) AS BIGINT) AS n_unmatched_closed
        |FROM rows_ GROUP BY user_id ORDER BY user_id""".stripMargin,
    // q315: chunk membership (the same exact percentile boundary the
    // split used — Spark percentile ≡ DuckDB quantile_cont) decides
    // which dim version enriched each event: chunk 0 under v1 (mod
    // 3), the rest under v2 (mod 5), no stream restart
    "q315_stream_dim_refresh" ->
      """WITH e AS (
        |  SELECT user_id,
        |    epoch_us(date_trunc('microseconds', ts)) AS us
        |  FROM events),
        |b AS (SELECT quantile_cont(us, CAST(1 AS DOUBLE) / 3) AS b0 FROM e),
        |j AS (
        |  SELECT e.user_id,
        |    CASE WHEN e.us <= b.b0
        |      THEN 's' || CAST(c.c_custkey % 3 AS VARCHAR)
        |      ELSE 's' || CAST(c.c_custkey % 5 AS VARCHAR) END AS segment
        |  FROM e JOIN customer c ON c.c_custkey = e.user_id, b)
        |SELECT segment, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(user_id) AS BIGINT) AS user_id_sum
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // q314: PER-SIDE eviction fences, both measured at sf0.1 where the
    // candidates diverge — purchases emit nulls below wm (20011; the
    // q310 fence), clicks below wm − 10 min (19791 vs 19794 at wm and
    // 19797 at wm + 10 min): the side a future row can reach back
    // into through the interval keeps its state 10 minutes longer.
    // Boundary strictness pinned by the synthetic at-the-fence stream.
    "q314_stream_full_outer_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(date_trunc('microseconds', ts)) AS us
        |  FROM events),
        |p AS (SELECT user_id, event_id, us FROM e
        |      WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id, us FROM e
        |      WHERE event_type = 'click'),
        |wm(f) AS (
        |  SELECT least((SELECT max(us) FROM c), (SELECT max(us) FROM p))
        |    - 3600000000),
        |matched AS (
        |  SELECT p.user_id
        |  FROM p JOIN c ON c.user_id = p.user_id
        |    AND c.us <= p.us AND c.us >= p.us - 600000000),
        |up AS (
        |  SELECT p.user_id
        |  FROM p, wm
        |  WHERE p.us < wm.f AND NOT EXISTS (SELECT 1 FROM c
        |    WHERE c.user_id = p.user_id AND c.us <= p.us
        |      AND c.us >= p.us - 600000000)),
        |ucl AS (
        |  SELECT c.user_id
        |  FROM c, wm
        |  WHERE c.us < wm.f - 600000000 AND NOT EXISTS (SELECT 1 FROM p
        |    WHERE p.user_id = c.user_id AND p.us >= c.us
        |      AND p.us <= c.us + 600000000)),
        |rows_ AS (
        |  SELECT user_id, 1 AS m, 0 AS a, 0 AS b FROM matched
        |  UNION ALL SELECT user_id, 0, 1, 0 FROM up
        |  UNION ALL SELECT user_id, 0, 0, 1 FROM ucl)
        |SELECT user_id, CAST(sum(m) AS BIGINT) AS n_pairs,
        |  CAST(sum(a) AS BIGINT) AS n_unmatched_purchases,
        |  CAST(sum(b) AS BIGINT) AS n_unmatched_clicks
        |FROM rows_ GROUP BY user_id ORDER BY user_id""".stripMargin,
    // q313: the streamed as-of must equal the batch as-of exactly
    // (chronological arrival makes emit-once == retro-complete); the
    // same-µs tie-break (last same-µs click by id wins, clicks before
    // purchases) is literalized in the LATERAL's ORDER BY
    "q313_stream_asof_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(date_trunc('microseconds', ts)) AS us
        |  FROM events),
        |p AS (SELECT user_id, event_id, us FROM e
        |      WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id, us FROM e
        |      WHERE event_type = 'click')
        |SELECT p.user_id, p.event_id AS purchase_id,
        |  COALESCE(m.click_id, -1) AS click_id,
        |  COALESCE(p.us - m.cus, -1) AS gap_us
        |FROM p LEFT JOIN LATERAL (
        |  SELECT c.event_id AS click_id, c.us AS cus
        |  FROM c
        |  WHERE c.user_id = p.user_id AND c.us <= p.us
        |  ORDER BY c.us DESC, c.event_id DESC LIMIT 1) m ON true
        |ORDER BY user_id, purchase_id""".stripMargin,
    // q274 chains the q173 join into an hourly windowed agg in ONE
    // streaming query; on the fixtures every joined window closes
    // hours before the final watermark (verified at all three sfs),
    // so the gate target is the full batch rollup — the fence itself
    // is pinned by EventStreamsSpec on a synthetic straddling stream
    "q274_stream_join_windowed" -> chainedRollupSql,
    // q287 streams the SAME rollup through a crash + checkpoint
    // restart: recovery must be invisible in the result
    "q287_stream_restart_recovery" -> chainedRollupSql,
    "q166_winsorize" ->
      """WITH b AS (
        |  SELECT event_type,
        |    quantile_cont(value, 0.05) AS lo,
        |    quantile_cont(value, 0.95) AS hi
        |  FROM events GROUP BY 1)
        |SELECT e.event_type, count(*) AS n,
        |  round(CAST(sum(CAST(e.value AS DECIMAL(28,6))) AS DOUBLE)
        |    / count(*), 4) AS avg_raw,
        |  round(CAST(sum(CAST(least(greatest(e.value, b.lo), b.hi)
        |    AS DECIMAL(28,6))) AS DOUBLE) / count(*), 4) AS avg_winsor,
        |  CAST(sum(CASE WHEN e.value < b.lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_lo,
        |  CAST(sum(CASE WHEN e.value > b.hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_hi
        |FROM events e JOIN b USING (event_type)
        |GROUP BY e.event_type
        |ORDER BY e.event_type""".stripMargin,
    "q172_ab_lift" ->
      """WITH t AS (
        |  SELECT event_type, value,
        |    CASE WHEN ('0x' || substr(md5('ab|' || CAST(user_id AS VARCHAR)),
        |      1, 15))::BIGINT % 2 = 0 THEN 'A' ELSE 'B' END AS arm
        |  FROM events),
        |m AS (
        |  SELECT event_type, arm, count(*) AS n,
        |    sum(CAST(value AS DECIMAL(28,6))) AS sv,
        |    sum(CAST(value * value AS DECIMAL(28,6))) AS svv
        |  FROM t GROUP BY 1, 2),
        |j AS (
        |  SELECT a.event_type,
        |    a.n AS na, CAST(a.sv AS DOUBLE) AS sva, CAST(a.svv AS DOUBLE) AS svva,
        |    b.n AS nb, CAST(b.sv AS DOUBLE) AS svb, CAST(b.svv AS DOUBLE) AS svvb
        |  FROM m a JOIN m b ON a.event_type = b.event_type
        |  WHERE a.arm = 'A' AND b.arm = 'B')
        |SELECT event_type, na AS n_arm_a, nb AS n_arm_b,
        |  round(sva / na, 4) AS mean_a,
        |  round(svb / nb, 4) AS mean_b,
        |  round(svb / nb - sva / na, 4) AS lift,
        |  round((svb / nb - sva / na) /
        |    sqrt(((svva - sva * sva / na) / (na - 1)) / na
        |       + ((svvb - svb * svb / nb) / (nb - 1)) / nb), 4) AS z
        |FROM j
        |ORDER BY event_type""".stripMargin,
    "q116_markov" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(date_trunc('microseconds', ts)) AS us
        |  FROM events),
        |g AS (
        |  SELECT *, CASE WHEN lg IS NULL OR us - lg > 1800000000
        |                 THEN 1 ELSE 0 END AS new_sess
        |  FROM (SELECT *, lag(us) OVER (PARTITION BY user_id
        |          ORDER BY us, event_id) AS lg FROM e)),
        |s AS (
        |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM g),
        |t AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id, sess
        |      ORDER BY us, event_id) AS from_type
        |  FROM s),
        |c AS (
        |  SELECT from_type, event_type AS to_type, count(*) AS n
        |  FROM t WHERE from_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round(n / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 4) AS p
        |FROM c
        |ORDER BY from_type, to_type""".stripMargin,
    "q117_value_trend" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(date_trunc('microseconds', ts)) AS us, value
        |  FROM events),
        |o AS (SELECT event_type, min(us) AS m FROM e GROUP BY 1),
        |x AS (
        |  SELECT e.event_type, (us - m) // 1000000 AS x,
        |    CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS yu
        |  FROM e JOIN o USING (event_type)),
        |mm AS (
        |  SELECT event_type, count(*) AS n, sum(x) AS sx, sum(yu) AS sy,
        |    sum(x * x) AS sxx, sum(x * yu) AS sxy
        |  FROM x GROUP BY 1)
        |SELECT event_type, n,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE)
        |        / CAST(n * sxx - sx * sx AS DOUBLE) * 86400 / 1e6, 6)
        |    AS slope_per_day,
        |  round((CAST(sy AS DOUBLE) / 1e6
        |         - CAST(n * sxy - sx * sy AS DOUBLE)
        |           / CAST(n * sxx - sx * sx AS DOUBLE) / 1e6
        |           * CAST(sx AS DOUBLE)) / n, 4) AS intercept
        |FROM mm
        |ORDER BY event_type""".stripMargin,
    "q118_time_weighted" ->
      """WITH e AS (
        |  SELECT user_id, event_id,
        |    epoch_us(date_trunc('microseconds', ts)) AS us, value
        |  FROM events),
        |h AS (
        |  SELECT *, lead(us) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) - us AS hold_us
        |  FROM e),
        |a AS (
        |  SELECT user_id,
        |    sum(CASE WHEN hold_us IS NOT NULL
        |          -- width-19 casts force INT128 arithmetic (an INT64
        |          -- mantissa product overflows); values identical to
        |          -- Spark's (18,6)x(13,0)
        |          THEN CAST(value AS DECIMAL(19,6)) * CAST(hold_us AS DECIMAL(19,0))
        |        END) AS wsum,
        |    max(us) - min(us) AS span_us, count(*) AS n_events
        |  FROM h GROUP BY 1)
        |SELECT user_id, n_events,
        |  round(CAST(wsum AS DOUBLE) / span_us, 4) AS twa
        |FROM a WHERE span_us > 0
        |ORDER BY user_id""".stripMargin,
    "q113_attribution" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, value,
        |    epoch_us(date_trunc('microseconds', ts)) AS us,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |m AS (
        |  SELECT *,
        |    max(CASE WHEN is_click = 1
        |          THEN struct_pack(us := us, event_id := event_id) END)
        |      OVER (PARTITION BY user_id ORDER BY us
        |            RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING) AS cw,
        |    sum(is_click)
        |      OVER (PARTITION BY user_id ORDER BY us
        |            RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING) AS nc
        |  FROM ev)
        |SELECT user_id, event_id AS purchase_id,
        |  (cw).event_id AS attributed_click,
        |  -- windowed sum(BIGINT) widens to HUGEINT in DuckDB; the driver
        |  -- hashes HUGEINT as float64 — cast back (q89/q102 discipline)
        |  CAST(COALESCE(nc, 0) AS BIGINT) AS n_clicks_7d, round(value, 2) AS value
        |FROM m WHERE is_click = 0
        |ORDER BY user_id, purchase_id""".stripMargin,
    "q115_rolling_distinct" ->
      """WITH p AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM p),
        |daily AS (SELECT day, count(DISTINCT user_id) AS dau FROM p GROUP BY 1),
        |c AS (SELECT DISTINCT user_id,
        |        CAST(day + x * INTERVAL 1 DAY AS DATE) AS t
        |      FROM p, range(0, 7) r(x)),
        |w AS (SELECT t, count(*) AS wau FROM c GROUP BY 1)
        |SELECT strftime(w.t, '%Y-%m-%d') AS day,
        |  COALESCE(daily.dau, 0) AS dau, w.wau
        |FROM w CROSS JOIN b LEFT JOIN daily ON w.t = daily.day
        |WHERE w.t BETWEEN b.d0 AND b.d1
        |ORDER BY day""".stripMargin,
    "q108_scd2" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    date_trunc('microseconds', ts) AS ts_us,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY date_trunc('microseconds', ts), event_id) AS prev_type
        |  FROM events),
        |seg AS (
        |  SELECT user_id, event_type, ts_us,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |      AS version,
        |    lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |      AS next_ts
        |  FROM e
        |  WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id, CAST(version AS INT) AS version, event_type,
        |  strftime(ts_us, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
        |  strftime(next_ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
        |  next_ts IS NULL AS is_current
        |FROM seg
        |ORDER BY user_id, version""".stripMargin,
    // same 80/20 integer-µs cutoff, same window tiebreak; count sums
    // cast back per the HUGEINT discipline
    "q144_cdc_merge" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, value,
        |    epoch_us(date_trunc('microseconds', ts)) AS us
        |  FROM events),
        |sp AS (SELECT min(us) + (max(us) - min(us)) * 4 // 5 AS cut FROM ev),
        |b AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS b_n,
        |    max(CASE WHEN rn = 1 THEN event_type END) AS b_type,
        |    max(CASE WHEN rn = 1 THEN value END) AS b_value,
        |    max(CASE WHEN rn = 1 THEN us END) AS b_us
        |  FROM (
        |    SELECT e.*, row_number() OVER (PARTITION BY user_id
        |      ORDER BY us DESC, event_id DESC) AS rn
        |    FROM ev e, sp WHERE us < cut)
        |  GROUP BY user_id),
        |d AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS d_n,
        |    max(CASE WHEN rn = 1 THEN event_type END) AS d_type,
        |    max(CASE WHEN rn = 1 THEN value END) AS d_value,
        |    max(CASE WHEN rn = 1 THEN us END) AS d_us
        |  FROM (
        |    SELECT e.*, row_number() OVER (PARTITION BY user_id
        |      ORDER BY us DESC, event_id DESC) AS rn
        |    FROM ev e, sp WHERE us >= cut)
        |  GROUP BY user_id)
        |SELECT user_id,
        |  CASE WHEN d_n IS NULL THEN 'keep'
        |       WHEN d_type = 'error' AND b_n IS NULL THEN 'reject'
        |       WHEN d_type = 'error' THEN 'delete'
        |       WHEN b_n IS NULL THEN 'insert'
        |       ELSE 'update' END AS action,
        |  COALESCE(b_n, 0) + COALESCE(d_n, 0) AS n_events,
        |  COALESCE(d_type, b_type) AS last_type,
        |  round(COALESCE(d_value, b_value), 2) AS last_value,
        |  COALESCE(d_us, b_us) AS last_us
        |FROM b FULL JOIN d USING (user_id)
        |ORDER BY user_id""".stripMargin,
    "q78_anomalies" ->
      """WITH m AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(28,9))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(value * value AS DECIMAL(28,9))) AS DOUBLE) AS s2
        |  FROM events GROUP BY event_type),
        |mm AS (
        |  SELECT event_type, s1 / n AS mean,
        |    sqrt((s2 - s1 * s1 / n) / (n - 1)) AS std
        |  FROM m),
        |z AS (
        |  SELECT e.event_type, e.event_id,
        |    (e.value - mm.mean) / mm.std AS z
        |  FROM events e JOIN mm ON e.event_type = mm.event_type),
        |r AS (
        |  SELECT event_type, event_id, z,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY abs(z) DESC, event_id) AS rn
        |  FROM z)
        |SELECT event_type, event_id, round(z, 3) AS z
        |FROM r WHERE rn <= 3
        |ORDER BY event_type, event_id""".stripMargin,
    "q74_full_outer" ->
      """WITH c AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_click
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |p AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_purchase
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT coalesce(c.day, p.day) AS day,
        |  coalesce(n_click, 0) AS n_click,
        |  coalesce(n_purchase, 0) AS n_purchase
        |FROM c FULL OUTER JOIN p ON c.day = p.day
        |ORDER BY day""".stripMargin,
    "q67_funnel" ->
      """WITH fc AS (
        |  SELECT user_id, min(epoch_us(date_trunc('microseconds', ts))) AS c0
        |  FROM events WHERE event_type = 'click' GROUP BY user_id),
        |p AS (
        |  SELECT user_id, epoch_us(date_trunc('microseconds', ts)) AS pus
        |  FROM events WHERE event_type = 'purchase'),
        |conv AS (
        |  SELECT fc.user_id, fc.c0,
        |    max(CASE WHEN p.pus >= fc.c0 AND p.pus <= fc.c0 + 3600000000
        |             THEN 1 ELSE 0 END) AS conv
        |  FROM fc LEFT JOIN p ON p.user_id = fc.user_id
        |  GROUP BY fc.user_id, fc.c0)
        |SELECT strftime(make_timestamp(c0), '%Y-%m-%d %H:00') AS cohort_hour,
        |  count(*) AS n_clicked, CAST(sum(conv) AS BIGINT) AS n_converted
        |FROM conv
        |GROUP BY 1
        |ORDER BY cohort_hour""".stripMargin,
    "q68_retention" ->
      """WITH active AS (
        |  SELECT DISTINCT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |    user_id
        |  FROM events),
        |r AS (
        |  SELECT a.day AS day, count(*) AS n_active,
        |    count(b.user_id) AS n_retained_7d
        |  FROM active a LEFT JOIN active b
        |    ON b.day = a.day + 7 AND b.user_id = a.user_id
        |  GROUP BY a.day)
        |SELECT strftime(DATE '1970-01-01' + CAST(day AS INT), '%Y-%m-%d') AS day,
        |  n_active, n_retained_7d
        |FROM r
        |ORDER BY day""".stripMargin,
    "q63_stats_agg" ->
      """WITH t AS (
        |  SELECT event_type, value,
        |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events),
        |a AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(28,9))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(value * value AS DECIMAL(28,9))) AS DOUBLE) AS s2,
        |    CAST(sum(k) AS DOUBLE) AS t1,
        |    CAST(sum(k * k) AS DOUBLE) AS t2,
        |    CAST(sum(CAST(value * k AS DECIMAL(28,9))) AS DOUBLE) AS s11
        |  FROM t GROUP BY event_type)
        |SELECT event_type, n,
        |  round((s2 - s1 * s1 / n) / (n - 1), 4) AS var_value,
        |  round(sqrt((s2 - s1 * s1 / n) / (n - 1)), 4) AS std_value,
        |  round((n * s11 - s1 * t1) /
        |    (sqrt(n * s2 - s1 * s1) * sqrt(n * t2 - t1 * t1)), 4) AS corr_vk
        |FROM a
        |ORDER BY event_type""".stripMargin,
    "q43_json_props" ->
      """WITH t AS (
        |  SELECT event_type,
        |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
        |  CAST((sum(k) * 20000 + count(k)) // (2 * count(k)) AS DOUBLE) / 10000 AS avg_k,
        |  min(k) AS min_k, max(k) AS max_k
        |FROM t
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q41_daily_pivot" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'view') AS view,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'error') AS error
        |FROM events
        |GROUP BY 1
        |ORDER BY day""".stripMargin,
    "q42_percentiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.9), 4) AS p90,
        |  round(quantile_cont(value, 0.99), 4) AS p99
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q15_events_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour_start,
        |  event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour_start, event_type""".stripMargin,
    "q16_events_sliding" ->
      """WITH assigned AS (
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) AS w_start, user_id FROM events
        |  UNION ALL
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', user_id FROM events)
        |SELECT strftime(w_start, '%Y-%m-%d %H:%M') AS w_start,
        |  count(*) AS n, count(DISTINCT user_id) AS n_users
        |FROM assigned
        |GROUP BY 1
        |ORDER BY w_start""".stripMargin,
    "q17_sessionize" ->
      """WITH t AS (
        |  SELECT user_id, event_id, value,
        |    date_trunc('microseconds', ts) AS ts_us,
        |    lag(epoch_us(date_trunc('microseconds', ts)))
        |      OVER (PARTITION BY user_id ORDER BY date_trunc('microseconds', ts), event_id) AS prev_us
        |  FROM events),
        |m AS (
        |  SELECT *, CASE WHEN prev_us IS NULL
        |    OR epoch_us(ts_us) - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM t),
        |s AS (
        |  SELECT *, sum(new_session)
        |    OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        |  FROM m)
        |SELECT user_id, CAST(session_no AS BIGINT) AS session_no, count(*) AS n_events,
        |  strftime(min(ts_us), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |  CAST(round(sum(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_value
        |FROM s
        |GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin,
    // q154 is the SAME aggregation as q18 run through the streaming
    // engine — one oracle string pins both (q51/q150 shared-oracle
    // pattern); see the `SessionWindowOracle` indirection below
    "q154_stream_sessions" -> EventAnalyticsOracles.SessionWindow,
    // q275 runs the same aggregation in append mode: the emitted set
    // is the q18/q154 sessions whose close (last event + 30 min gap)
    // precedes the final watermark (ms-truncated max ts − 1 h) —
    // verified fence-exact at sf0.001/0.01/0.1 (944/9525/95280 rows)
    "q275_stream_sessions_append" -> EventAnalyticsOracles.SessionWindowClosed,
    // q296 streams the SAME closed-session set through a crash +
    // checkpoint restart: recovery must be invisible in the result
    "q296_stream_sessions_restart" -> EventAnalyticsOracles.SessionWindowClosed,
    "q164_stream_totals" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(round(sum(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE)
        |    AS sum_value
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "q18_session_window" -> EventAnalyticsOracles.SessionWindow,
    "q19_event_type_stats" ->
      """SELECT event_type, count(*) AS n,
        |  round(sum(value), 2) AS sum_value,
        |  round(avg(value), 4) AS avg_value,
        |  min(value) AS min_value,
        |  max(value) AS max_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
  )
}

/** Oracle SQL shared by more than one registered query. */
private[ops] object EventAnalyticsOracles {
  /** Gaps-and-islands 30-min sessionization — pins BOTH q18 (batch
    * session_window) and q154 (the same aggregation through the
    * streaming engine): one string, so the two engines can never be
    * held to diverging definitions.
    */
  val SessionWindow: String =
    """WITH t AS (
      |  SELECT user_id,
      |    date_trunc('microseconds', ts) AS ts_us,
      |    lag(epoch_us(date_trunc('microseconds', ts)))
      |      OVER (PARTITION BY user_id ORDER BY date_trunc('microseconds', ts)) AS prev_us
      |  FROM events),
      |m AS (
      |  SELECT *, CASE WHEN prev_us IS NULL
      |    OR epoch_us(ts_us) - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_session
      |  FROM t),
      |s AS (
      |  SELECT *, sum(new_session)
      |    OVER (PARTITION BY user_id ORDER BY ts_us
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      |  FROM m)
      |SELECT user_id,
      |  strftime(min(ts_us), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
      |  count(*) AS n_events
      |FROM s
      |GROUP BY user_id, session_no
      |ORDER BY user_id, session_start""".stripMargin

  /** q275: the SAME sessionization restricted to CLOSED sessions —
    * close (last event + 30-min gap) strictly before the final
    * watermark, i.e. millisecond-truncated max event time − 1 hour
    * (the engine tracks event-time stats in ms). Append mode emits
    * exactly these, once each.
    */
  val SessionWindowClosed: String =
    """WITH t AS (
      |  SELECT user_id,
      |    date_trunc('microseconds', ts) AS ts_us,
      |    lag(epoch_us(date_trunc('microseconds', ts)))
      |      OVER (PARTITION BY user_id ORDER BY date_trunc('microseconds', ts)) AS prev_us
      |  FROM events),
      |m AS (
      |  SELECT *, CASE WHEN prev_us IS NULL
      |    OR epoch_us(ts_us) - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_session
      |  FROM t),
      |s AS (
      |  SELECT *, sum(new_session)
      |    OVER (PARTITION BY user_id ORDER BY ts_us
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      |  FROM m),
      |f AS (
      |  SELECT (max(epoch_us(date_trunc('microseconds', ts))) // 1000) * 1000
      |    - 3600000000 AS wm_us
      |  FROM events)
      |SELECT user_id,
      |  strftime(min(ts_us), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
      |  count(*) AS n_events
      |FROM s
      |GROUP BY user_id, session_no
      |HAVING max(epoch_us(ts_us)) + 1800000000 < (SELECT wm_us FROM f)
      |ORDER BY user_id, session_start""".stripMargin
}
