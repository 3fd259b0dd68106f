package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.config.PumpConfig
import graft.pipeline.LogPump
import graft.streaming.StreamingPump

/** Runnable service entry point — the reference's `cmd/app/main.go`:
  * load + validate config.yaml, start one streaming pump per
  * configured log directory (each tailing its files through the
  * `techlog` connector, StreamingPump.pumpStream), run until SIGTERM
  * or until any pump fails, stop gracefully.
  *
  *   spark-submit --class graft.PumpMain graft.jar config.yaml \
  *     [--parquet /lake/root] [--checkpoint /ckpt/root] \
  *     [--jdbc-url jdbc:clickhouse://host:8123/db]
  *
  * Sink selection mirrors the deployment reality: with `--parquet`
  * the routed lake sink writes per-table EventDate-partitioned
  * parquet (the MergeTree layout); without it the ClickHouse block of
  * the config becomes a `jdbc:clickhouse://Address/Database` sink with
  * first-write MergeTree auto-provisioning and idempotent batch-id
  * markers (LogPump.idempotentJdbcBatch — strictly stronger than the
  * reference, which drops a batch on sink error, `batch.go:44-49`).
  * Component-based table routing follows `clickhouse.go:64-72`;
  * `BatchInterval` is the trigger period (`config.yaml:15`);
  * `BatchSize` is validated but unused — the reference's count flush
  * only sends a full batch early (`batch.go:59`), so time alone
  * triggers (COVERAGE.md, B1). Each
  * directory gets its own checkpoint subdir, and both sinks key their
  * batches by the streaming query id kept in that checkpoint: the lake
  * sink names its `batch_id=N` files by it, and a JDBC batch-id marker
  * is the pair (query id, batch id). So the pumps' batches never
  * collide, a restart still skips a replayed batch, and deleting a
  * directory's checkpoint to re-ingest starts a new query id whose
  * batches are written, not skipped as the old query's.
  */
object PumpMain {

  /** The sink URL for a config: the ClickHouse JDBC driver speaks
    * HTTP (default port 8123), while the reference's `Address` is its
    * NATIVE endpoint (`host:9000`, `Protocol: tcp`) — so a reused
    * reference config would point the JDBC driver at the wrong port.
    * Translate the well-known native port to the HTTP one; anything
    * else passes through (an explicit `--jdbc-url` overrides all of
    * this).
    */
  private[graft] def jdbcUrl(cfg: PumpConfig): String = {
    val ch = cfg.ClickHouse
    val address =
      if (ch.Address.endsWith(":9000")) ch.Address.stripSuffix(":9000") + ":8123"
      else ch.Address
    s"jdbc:clickhouse://$address/${ch.Database}"
  }

  /** Start one pump query per configured directory — the only way a
    * pump is started. Factored from main() so specs can drive it
    * against a scratch config + sink.
    *
    * Hot config reload (reference X1, `scan.go:24-52` fsnotify on
    * config.yaml): every micro-batch of every directory re-reads the
    * routing `TableMap`/`DefaultTable` — the part 1C operators
    * actually retune — from `configPath`; a broken config keeps the
    * last good one, like the reference logging the reload error and
    * keeping the old config. Directories, pattern, trigger period and
    * sink endpoint are read once: Spark cannot swap a running query's
    * source, so those changes need a restart (documented deviation,
    * SURVEY.md §7.4).
    */
  def startAll(spark: SparkSession, configPath: String,
      parquetOut: Option[String], checkpointRoot: String,
      jdbcUrlOverride: Option[String] = None): Seq[StreamingQuery] = {
    val cfg = PumpConfig.load(configPath)
      .fold(err => throw new IllegalArgumentException(err), identity)
    @volatile var lastGood = cfg
    def routing(): (Map[String, String], String) = {
      PumpConfig.load(configPath).foreach(c => lastGood = c)
      val ch = lastGood.ClickHouse
      (ch.TableMap, if (ch.DefaultTable.isEmpty) "logs" else ch.DefaultTable)
    }
    val trigger = Trigger.ProcessingTime(s"${cfg.BatchInterval} seconds")
    cfg.LogDirectoryMap.toSeq.sortBy(_._1).map { case (key, dir) =>
      val ckpt = s"$checkpointRoot/$key"
      val stream = StreamingPump.pumpStream(spark, dir, cfg.FilePattern)
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(trigger)
      parquetOut match {
        case Some(out) =>
          stream.foreachBatch { (batch: DataFrame, batchId: Long) =>
            val (tableMap, default) = routing()
            LogPump.writeRoutedExactlyOnce(batch, tableMap, default, out, batchId)
          }.start()
        case None =>
          val ch = cfg.ClickHouse
          val url = jdbcUrlOverride.getOrElse(jdbcUrl(cfg))
          val props = new java.util.Properties()
          if (ch.Username.nonEmpty) props.setProperty("user", ch.Username)
          if (ch.Password.nonEmpty) props.setProperty("password", ch.Password)
          stream.foreachBatch { (batch: DataFrame, batchId: Long) =>
            val (tableMap, default) = routing()
            LogPump.idempotentJdbcBatch(batch, batchId, tableMap, default,
              url, props)
            ()
          }.start()
      }
    }
  }

  /** Block until ANY pump query terminates, rethrowing its failure: a
    * dead directory pump must end the service, not stop its ingest
    * unnoticed while the other directories keep running.
    */
  private[graft] def awaitAny(spark: SparkSession): Unit =
    spark.streams.awaitAnyTermination()

  def main(args: Array[String]): Unit = {
    val configPath = args.headOption.getOrElse("config.yaml")
    def flag(name: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }
    val spark = SparkSession.builder()
      .appName("graft-log-pump")
      .getOrCreate() // master/resources come from spark-submit
    val metrics = graft.streaming.PumpMetrics.attach(spark)
    val queries = startAll(spark, configPath,
      flag("--parquet"), flag("--checkpoint").getOrElse("graft-checkpoints"),
      flag("--jdbc-url"))
    // SIGTERM (or a failed pump) → graceful stop: finish the in-flight
    // micro-batches, print the rows/batches/lag report, then exit (the
    // reference's signal.Notify + cancel, main.go — its zap logs
    // carried the same per-batch counts)
    sys.addShutdownHook {
      queries.foreach(q => try q.stop() catch { case _: Throwable => () })
      val rep = metrics.report(queries.map(_.id))
      if (rep.nonEmpty) println(rep)
    }
    awaitAny(spark)
  }
}
