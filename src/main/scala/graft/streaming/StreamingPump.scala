package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.Transform

/** Streaming form of the pump (SURVEY.md §2.1 S2/S3/S4, §3.2): the
  * `techlog` connector (graft.sources.TechLogSource) tails the log
  * directory, and its per-file byte-offset map is the micro-batch
  * offset — the reference's per-record offset checkpoint, replayable,
  * so a failed batch is retried instead of dropped (`batch.go:44-49`).
  * The connector carries the per-file tail's record assembly:
  *
  *  - bytes appended to an already-seen file are admitted as a delta
  *    (`tail.go:21-27`), aligned to whole records;
  *  - the trailing record of a hot file is held back until a later
  *    boundary line arrives or the writer goes idle for `idleAdmitMs`
  *    (default 2 s — the reference's idle flush, `tail.go:58-65`);
  *  - a rotated or truncated file is re-read from 0.
  *
  * Pumps are started by `graft.PumpMain.startAll`.
  */
object StreamingPump {

  /** Changed files one micro-batch admits: a backlog after downtime
    * drains in bounded batches instead of one giant catch-up batch.
    * The only admission limit: no record cap (COVERAGE.md, B1).
    */
  val MaxFilesPerTrigger = 100

  /** Full streaming pump → 16-column TechLogRow stream. */
  def pumpStream(spark: SparkSession, dir: String, pattern: String = "*.log"): DataFrame =
    Transform(spark.readStream.format("techlog")
      .option("pathGlobFilter", pattern)
      .option("maxFilesPerTrigger", MaxFilesPerTrigger)
      .load(dir))
}
