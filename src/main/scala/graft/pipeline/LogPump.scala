package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Transform

/** Batch form of the reference's whole dataflow (SURVEY.md §3.2):
  *
  *   .log files → record assembly → parse → transform → routed sink
  *
  * Assembly and parse happen in the `techlog` connector
  * (graft.sources.TechLogSource). The plan is narrow end-to-end: files
  * bin-packed into tasks by size, no shuffle anywhere until the sink.
  * At 100 TB this scales with bytes and file count; the only wide
  * operation is the lake sink's single write per micro-batch
  * (`writeRoutedExactlyOnce`): rows are tagged with their routed
  * table, repartitioned by (table, EventDate) so each task writes few
  * files instead of one per (task × table × date) — the classic
  * small-files trap — and land in a staging dir in ONE job. The driver
  * then publishes the staged files under `<table>/batch_id=N/`
  * with renames, scoped to the writing streaming query so pipelines
  * sharing an outDir never overwrite each other's batches.
  *
  * The streaming form with identical semantics lives in
  * `graft.streaming.StreamingPump`.
  */
object LogPump {

  /** Full batch pump: a directory tree of .log files → 16-column
    * TechLogRow DataFrame (invalid records dropped, reference T5).
    */
  def pumpBatch(spark: SparkSession, dir: String): DataFrame =
    Transform(spark.read.format("techlog").load(dir))

  /** A1 table routing (reference `clickhouse.go:64-72`): per-Component
    * table with a default fallback. The map comes from config and is
    * tiny — a literal CASE chain, fully codegen'd, no join.
    */
  def withRoute(rows: DataFrame, tableMap: Map[String, String],
      defaultTable: String): DataFrame =
    rows.withColumn("__table", route(tableMap, defaultTable)(identity))

  /** The routing CASE chain over EventType, yielding `label(table)`. */
  private def route(tableMap: Map[String, String], defaultTable: String)(
      label: String => Any): Column =
    tableMap.foldLeft(lit(label(defaultTable))) {
      case (acc, (component, table)) =>
        when(col("EventType") === component, lit(label(table))).otherwise(acc)
    }

  /** The lake sink's routing column: the index of a row's table among
    * the candidate tables. An index, not the table name, so the staged
    * partition directory names need no escaping.
    */
  private val RouteCol = "__route"

  /** The id of the streaming query running this batch, if any — both
    * sinks' pipeline key. Spark keeps it in the checkpoint, so it
    * survives a restart and changes when the checkpoint is recreated.
    */
  private def streamingQueryId(spark: SparkSession): Option[String] =
    Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId"))

  /** Hadoop conf of the lake sink's staging write and publish: fork-free
    * local FS, no `_SUCCESS` marker.
    */
  private val StagingOpts = graft.util.LocalFs.Conf +
    ("mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false")

  /** K1 parquet sink with EXACTLY-ONCE micro-batch replay, in ONE
    * Spark write per micro-batch. Published layout, per routed table:
    *
    *   outDir/<table>/batch_id=N/EventDate=d/<pipeline>-part-….parquet
    *
    * partitioned like the reference's MergeTree `PARTITION BY
    * EventDate` and sorted within each file by EventTime, its
    * `ORDER BY (EventDate, EventTime)`. Readers list `outDir/<table>`
    * as ordinary two-level partitioned parquet (batch_id, EventDate).
    *
    * Protocol:
    *  1. stage: every row is tagged with its table's index, shuffled
    *     by (table, EventDate), sorted by (table, EventDate, EventTime)
    *     and written by one `partitionBy(table, EventDate)` job into
    *     `outDir/_staging/<pipeline>-batch_id=N` (a stale staging dir of
    *     a crashed attempt is deleted first). The sort key starts with
    *     the write's partition columns, so Spark adds no sort of its
    *     own that would drop the EventTime order;
    *  2. publish, on the driver: this pipeline's earlier files of batch
    *     N are deleted from every candidate table, then each staged
    *     file is renamed into `<table>/batch_id=N/EventDate=d/`;
    *  3. the staging dir (and `_staging`, once empty) is removed.
    *
    * Local sinks (`file:` outDir) write through [[graft.util.LocalFs]]
    * on both sides — the staging job's executors via the write's
    * options, which Spark folds into that job's Hadoop conf, and the
    * driver's publish `fs` via the same conf. Without Hadoop's native
    * library the stock local FS forks a `chmod` for every file, `.crc`
    * and directory it creates (37 per batch of perfbench's `tail`
    * workload), and those forks were most of the sink's fixed cost per
    * micro-batch. Modes, `.crc`
    * sidecars and layout are unchanged. The staging job writes no
    * `_SUCCESS` marker: publish goes by rename and nothing reads it.
    *
    * Crash windows: a crash in (1) publishes nothing, and an earlier
    * attempt's complete batch stays readable. A crash in (2) leaves
    * batch N partly published until the replay. A crash in (3) leaves
    * only staging debris, which readers never list (`_` prefix). The
    * query has not committed the batch in any of them, so Spark
    * replays it, and the replay's step 2 replaces this pipeline's
    * files of batch N whole: no duplicate, no loss.
    *
    * Pipeline scoping: batch ids restart at 0 in every streaming
    * query, so queries sharing an outDir (PumpMain's directories)
    * would overwrite each other's `batch_id=N`. The `<pipeline>` prefix
    * of staging dirs and published files is the query id
    * (`sql.streaming.queryId`, kept in the checkpoint, so a restart
    * keeps it), and a replay deletes only its own query's files.
    * Outside a streaming query the prefix is empty, and a call
    * replaces all of batch N's files.
    */
  def writeRoutedExactlyOnce(rows: DataFrame, tableMap: Map[String, String],
      defaultTable: String, outDir: String, batchId: Long): Unit = {
    val spark = rows.sparkSession
    val tables = (defaultTable +: tableMap.values.toSeq).distinct.toIndexedSeq
    val pipeline = streamingQueryId(spark).fold("")(_ + "-")
    val stagingRoot = new Path(s"$outDir/_staging")
    val staging = new Path(stagingRoot, s"${pipeline}batch_id=$batchId")
    val fs = staging.getFileSystem(spark.sessionState.newHadoopConfWithOptions(StagingOpts))
    fs.delete(staging, true)
    try {
      rows.withColumn(RouteCol, route(tableMap, defaultTable)(t => tables.indexOf(t)))
        .repartition(col(RouteCol), col("EventDate"))
        .sortWithinPartitions(RouteCol, "EventDate", "EventTime")
        .write.options(StagingOpts).partitionBy(RouteCol, "EventDate")
        .parquet(staging.toString)

      val staged = Option(fs.globStatus(
          new Path(staging, s"$RouteCol=*/EventDate=*/part-*"))).toSeq.flatten
        .map { f =>
          val date = f.getPath.getParent
          (tables(date.getParent.getName.stripPrefix(s"$RouteCol=").toInt),
            date.getName, f.getPath)
        }
      staged.map(_._1).distinct.foreach(t => checkLayout(fs, outDir, t))
      for (t <- tables; batchDir = new Path(s"$outDir/$t/batch_id=$batchId")
           if fs.exists(batchDir); d <- fs.listStatus(batchDir);
           f <- fs.listStatus(d.getPath) if f.getPath.getName.startsWith(pipeline))
        fs.delete(f.getPath, false)
      staged.foreach { case (t, date, p) =>
        val dir = new Path(s"$outDir/$t/batch_id=$batchId/$date")
        fs.mkdirs(dir)
        val dst = new Path(dir, pipeline + p.getName)
        if (!fs.rename(p, dst))
          throw new java.io.IOException(s"could not publish $p as $dst")
      }
    } finally {
      fs.delete(staging, true)
      // another pipeline may be staging at this instant: then the
      // non-recursive delete fails and `_staging` stays, as it should
      try if (fs.listStatus(stagingRoot).isEmpty) fs.delete(stagingRoot, false)
      catch { case _: java.io.IOException => () }
    }
  }

  /** Table dirs already cleared by the layout-migration guard — the
    * guard only matters on FIRST contact with a table dir, but it
    * costs two filesystem metadata round-trips; on an object-store
    * outDir with sub-second triggers that is a real per-trigger tax,
    * so the verdict is memoized per (outDir, table) for the process
    * lifetime (a legacy layout cannot appear later: only this sink
    * writes there).
    */
  private val layoutChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Layout-migration guard: a table dir of the older single-level
    * layout has top-level EventDate= dirs; mixing them with batch_id=
    * dirs makes Spark partition discovery fail later with "conflicting
    * directory structures" at READ time — fail fast at WRITE time with
    * an actionable message instead (checked once per table).
    */
  private def checkLayout(fs: FileSystem, outDir: String, table: String): Unit =
    if (!layoutChecked.contains(s"$outDir/$table")) {
      val tableDir = new Path(s"$outDir/$table")
      if (fs.exists(tableDir) &&
          fs.listStatus(tableDir).exists(_.getPath.getName.startsWith("EventDate=")))
        throw new IllegalStateException(
          s"$outDir/$table holds the legacy single-level EventDate= layout; " +
          "the exactly-once sink writes batch_id=N/EventDate=... dirs and " +
          "the two cannot mix. Point the pump at a fresh outDir (or move " +
          "the legacy data aside) when upgrading.")
      // memoize only a PASSED verdict — a caught-and-retried failure
      // must re-check, not silently proceed
      layoutChecked.add(s"$outDir/$table")
    }

  /** K1 sink, JDBC form — the reference's actual sink shape (bulk
    * INSERT per routed table, clickhouse.go:63-128). A
    * `jdbc:clickhouse://host:8123/db` (or `jdbc:ch:`) URL takes the
    * ClickHouse-dialect path: first-write auto-provisioning with the
    * MergeTree DDL (DateTime64(6), LowCardinality — `ClickHouseDdl`)
    * and the reference's explicit-column bulk INSERT
    * (`ClickHouseSink`); any other JDBC database uses Spark's generic
    * writer. Exercised in LogPumpSpec against embedded Derby (the only
    * JDBC engine shipped with Spark) driving both the generic path and
    * the ClickHouse executor batch cycle.
    */
  def writeRoutedJdbc(rows: DataFrame, tableMap: Map[String, String],
      defaultTable: String, url: String,
      props: java.util.Properties = new java.util.Properties()): Unit =
    foreachRoutedTable(rows, tableMap, defaultTable) { (t, df) =>
      if (ClickHouseSink.isClickHouseUrl(url)) ClickHouseSink.write(df, t, url, props)
      else df.write.mode("append").jdbc(url, t, props)
    }

  /** Idempotent micro-batch JDBC write for `foreachBatch`: a
    * `graft_batch_commits` marker table records committed batch ids,
    * so a batch REPLAYED after a successful write (the common
    * restart case: sink committed, checkpoint didn't) is skipped
    * instead of double-appended — strictly better than the reference,
    * which DROPS a batch on sink error (`batch.go:44-49`). Residual
    * window: a crash between a partial append and the marker insert
    * re-appends that batch (the non-transactional-sink limit);
    * ClickHouse absorbs it with ReplacingMergeTree (q76's semantics).
    * A marker is keyed by (streaming query id, batch id); outside a
    * streaming query the query id is "default".
    * Returns false when the batch was skipped as already committed.
    */
  def idempotentJdbcBatch(batch: DataFrame, batchId: Long,
      tableMap: Map[String, String], defaultTable: String, url: String,
      props: java.util.Properties = new java.util.Properties()): Boolean = {
    val pipeline = streamingQueryId(batch.sparkSession).getOrElse("default")
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      // existence via catalog metadata, NOT try-create-and-swallow: a
      // real CREATE failure (permissions, dialect DDL) must surface,
      // not resurface later as a confusing missing-table error
      val exists = Seq("GRAFT_BATCH_COMMITS", "graft_batch_commits").exists { n =>
        val rs = conn.getMetaData.getTables(null, null, n, null)
        try rs.next() finally rs.close()
      }
      if (!exists) {
        val st = conn.createStatement()
        try st.executeUpdate(markerTableDdl(url))
        finally st.close()
      }
      // markers are keyed by (query id, batch id): batch ids restart
      // from 0 per query/checkpoint, so a bare batch_id key (or a key
      // that outlives a deleted checkpoint) would make independent
      // pipelines, or a fresh-checkpoint reprocess, skip each other's
      // batches — silent data loss
      val check = conn.prepareStatement(
        "SELECT 1 FROM graft_batch_commits WHERE pipeline = ? AND batch_id = ?")
      val committed = try {
        check.setString(1, pipeline); check.setLong(2, batchId)
        val rs = check.executeQuery()
        try rs.next() finally rs.close()
      } finally check.close()
      if (committed) false
      else {
        writeRoutedJdbc(batch, tableMap, defaultTable, url, props)
        val mark = conn.prepareStatement(
          "INSERT INTO graft_batch_commits VALUES (?, ?)")
        try { mark.setString(1, pipeline); mark.setLong(2, batchId); mark.executeUpdate() }
        finally mark.close()
        true
      }
    } finally conn.close()
  }

  /** Marker-table DDL per dialect: ClickHouse rejects engine-less
    * ANSI DDL (and has no PRIMARY KEY constraint clause) — it gets a
    * MergeTree ordered by the marker key; everything else takes the
    * generic form.
    */
  private[graft] def markerTableDdl(url: String): String =
    if (ClickHouseSink.isClickHouseUrl(url))
      """CREATE TABLE IF NOT EXISTS graft_batch_commits (
        |  pipeline String,
        |  batch_id Int64
        |)
        |ENGINE = MergeTree
        |ORDER BY (pipeline, batch_id)""".stripMargin
    else
      """CREATE TABLE graft_batch_commits (
        |  pipeline VARCHAR(256) NOT NULL,
        |  batch_id BIGINT NOT NULL,
        |  PRIMARY KEY (pipeline, batch_id))""".stripMargin

  private def foreachRoutedTable(rows: DataFrame,
      tableMap: Map[String, String], defaultTable: String)(
      write: (String, DataFrame) => Unit): Unit = {
    val routed = withRoute(rows, tableMap, defaultTable).cache()
    try {
      val tables = routed.select(col("__table")).distinct()
        .collect().map(_.getString(0))
      tables.foreach { t =>
        write(t, routed.filter(col("__table") === t).drop("__table"))
      }
    } finally routed.unpersist()
  }
}
