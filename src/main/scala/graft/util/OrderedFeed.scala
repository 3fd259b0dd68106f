package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The arrival-determinism contract every chunked-backlog fixture
  * relies on, in ONE place: `FileStreamSource` admits files in
  * mod-time order, so writing chunk k as a single file stamped
  * `base + k` minutes pins stream arrival order to chunk order. Used
  * by the crash/restart splits (events by ts percentile, documents by
  * doc_id), the versioned-view chains (one shard per commit), the CDF
  * feeds (one delta per version), and the streamed index growth (one
  * residue class per batch). [[stream]] reads a feed back one file
  * per trigger, so micro-batch k of a [[StreamTuning.drain]] is chunk
  * k — the writer and the reader of the feed format live here.
  */
object OrderedFeed {

  /** Write `df` as one parquet file at `dir`, mod-time pinned to
    * `base + k` minutes. Chunks of one feed may share a `base` or use
    * the per-call default — the 60 s spacing dominates loop latency
    * either way, so ordering stays strict.
    */
  def writeChunk(dir: String, k: Int, df: DataFrame,
      base: Long = System.currentTimeMillis() - 3600000L): Unit = {
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    // the mtime pin IS the ordering contract — fail loudly if the
    // layout or the filesystem breaks it (setLastModified returns
    // false instead of throwing; a silent no-op here would surface as
    // nondeterministic stream arrival order far from the cause)
    val files = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".parquet"))
    require(files.length == 1,
      s"writeChunk expects exactly one .parquet file in $dir after " +
        s"coalesce(1); found ${files.length}")
    require(files.head.setLastModified(base + k * 60000L),
      s"setLastModified failed for ${files.head} — mtime pin (arrival " +
        "order) would be nondeterministic")
  }

  /** Read the feed at `dir` as a stream, one file per trigger.
    * `chunks` is the glob of its chunk files under `dir`: `c*` for the
    * [[writeChunk]] chunks c0, c1, …, `v*` for a versioned CDF feed,
    * and empty when the chunks are the part files of one plain parquet
    * write at `dir`.
    */
  def stream(s: SparkSession, dir: String, schema: StructType,
      chunks: String = "c*"): DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(if (chunks.isEmpty) dir else s"$dir/$chunks")

  /** [[stream]] over a [[writeChunk]] feed, typed by its chunk c0. */
  def stream(s: SparkSession, dir: String): DataFrame =
    stream(s, dir, s.read.parquet(s"$dir/c0").schema)
}
