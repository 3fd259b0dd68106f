package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}

/** The finite stream drive, and the scoped session settings around it.
  *
  * The drive contract, stated once: every finite stream in `graft.ops`
  * runs through [[drain]] (or [[start]] + [[drained]] for concurrent
  * streams) — ONE `Trigger.AvailableNow` query whose micro-batches go
  * to a `foreachBatch` sink, awaited to termination, after which the
  * session's dead state-store providers are unloaded whether the query
  * finished or failed. A chunked backlog arrives one file per trigger
  * ([[OrderedFeed.stream]]), so batch k is chunk k. The drive adds no
  * `batch.isEmpty` guard of its own (`isEmpty` runs a job): a sink that
  * must skip empty batches says so itself. Crash/replay proofs use
  * [[crashRestart]]: run 1 dies in batch `crashAt` after its sink ran
  * but before the checkpoint committed, run 2 restarts from the same
  * checkpoint and replays that batch; the sink is exactly-once by
  * layout (an overwrite dir keyed by the batch id).
  *
  * Scoped shuffle width: stateful streaming operators materialize
  * state stores PER SHUFFLE PARTITION (a stream-stream join opens four
  * per partition), and at gate scale the per-partition store
  * open/commit dominates wall clock (q173: 6.2 s at 32 partitions →
  * 3.1 s at 8). Batch queries want shuffle width = cores; streaming
  * state wants it sized to key cardinality — so the override lives
  * only around the one streaming query and is always restored, keeping
  * the session's batch setting untouched for every other query in a
  * Verify/Bench sweep.
  */
object StreamTuning {
  def withShuffle[T](s: SparkSession, n: Int)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Scoped `spark.sql.streaming.noDataMicroBatches.enabled=false` —
    * ONLY for queries whose final no-data micro-batch provably emits
    * nothing: emission-on-arrival operators (inner stream-stream join,
    * dropDuplicates[WithinWatermark], timer-less transformWithState).
    * For those the extra trigger exists purely to advance the
    * watermark and evict state — on a finite AvailableNow backlog it
    * re-opens and re-commits every state store for zero output rows
    * (measured: q173 2.86→2.17 s, results hash-identical at sf0.1;
    * oracle-gated at every sf). NEVER use on append-mode window
    * aggregations, outer joins, or session windows — there the final
    * batch is what emits the watermark-closed rows.
    */
  def withNoDataSkip[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = s.conf.get(key)
    s.conf.set(key, "false")
    try body finally s.conf.set(key, prev)
  }

  /** Await a finite gate drive to its end or its failure, then unload
    * the session's dead state-store providers (in a `finally`, so a
    * failed drive does not leave them loaded). Provider-cache keys include the query RUN
    * id (StateStoreProviderId), so a terminated drive's providers can
    * never be reused — not even by a checkpoint resume, which gets a
    * fresh run id and re-reads the delta/snapshot files regardless.
    * Left loaded, they tax every later streaming commit until the 60 s
    * maintenance tick evicts them; a Bench/Verify sweep runs its ~32
    * gates well inside one tick, so the tax compounds across the whole
    * family (measured at sf0.1/local[32], DevProbe min-of-3 over the 4
    * stream-join gates: q173 4.08→1.46 s, q310 5.51→2.09, q314
    * 3.89→2.00, q274 5.58→2.91 once dead providers are dropped
    * promptly). A long-lived engine hosting CONCURRENT streams would
    * scope the unload per checkpoint instead of globally; the gates
    * here are strictly sequential, and a live query hit by the global
    * unload only reloads its state from the checkpoint — correctness
    * never depends on the provider cache.
    */
  def drained(q: StreamingQuery): Unit =
    try q.awaitTermination()
    finally org.apache.spark.sql.graftext.StateStoreBridge.unloadAll()

  /** Drain `df` to its end: [[start]], then [[drained]]. */
  def drain(df: DataFrame, outputMode: String = "append",
      checkpoint: Option[String] = None)(
      sink: (DataFrame, Long) => Unit): Unit =
    drained(start(df, outputMode, checkpoint)(sink))

  /** Start `df` as an AvailableNow query that hands every micro-batch
    * and its id to `sink`; the caller awaits it with [[drained]].
    */
  def start(df: DataFrame, outputMode: String = "append",
      checkpoint: Option[String] = None)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val w = df.writeStream.outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
    checkpoint.foreach(w.option("checkpointLocation", _))
    w.foreachBatch(sink).start()
  }

  /** Drain `df` TWICE against one checkpoint, at shuffle width
    * `width`: run 1 dies in batch `crashAt` right after `sink` returned
    * but before the checkpoint committed (the worst replay window);
    * `between` runs once run 1 is down; run 2 restarts from the same
    * checkpoint, replays the orphaned batch and drains the rest.
    * Requires — by construction, not timing — that run 1 died and
    * committed exactly batches 0..crashAt-1. The sink's third argument
    * is true for the one attempt that dies, so a sink that must die
    * mid-body (after one side effect, before the next) throws itself.
    */
  def crashRestart(s: SparkSession, df: DataFrame, ckpt: String,
      crashAt: Long, width: Int, between: () => Unit = () => ())(
      sink: (DataFrame, Long, Boolean) => Unit): Unit =
    withShuffle(s, width) {
      def run(crash: Boolean): Unit =
        drain(df, checkpoint = Some(ckpt)) { (batch, id) =>
          val dies = crash && id == crashAt
          sink(batch, id, dies)
          if (dies) throw new RuntimeException(
            "injected crash: sink committed, checkpoint not")
        }
      val crashed =
        try { run(crash = true); false }
        catch { case _: StreamingQueryException => true }
      require(crashed, "run 1 must die on the injected crash")
      val committed = committedBatches(ckpt)
      require(committed == (0L until crashAt),
        s"run 1 must stop mid-backlog with exactly batches 0..${crashAt - 1} committed; got $committed")
      between()
      run(crash = false)
    }

  /** The batch ids committed in the checkpoint at `ckpt`, ascending. */
  def committedBatches(ckpt: String): Seq[Long] =
    Option(new java.io.File(s"$ckpt/commits").list())
      .getOrElse(Array.empty[String]).filter(_.forall(_.isDigit))
      .map(_.toLong).sorted.toSeq

  /** Scoped `spark.sql.streaming.stateStore.unloadOnCommit=true` — for
    * FINITE AvailableNow drives with ≤ 2 micro-batches and heavy join
    * state (the stream-stream join gates). Spark keeps every state
    * store provider of a terminated query loaded until the background
    * maintenance tick (60 s) notices; in a session that drives many
    * short-lived streams those dead providers accumulate and tax every
    * later commit (measured: q274 4.07→2.82 s min-of-4 at sf0.1,
    * q310 −0.5, q314 −0.65, results hash-identical). Unload-on-commit
    * closes each store as its batch commits — the Spark-documented
    * mode for batch-like streaming jobs. NOT for multi-batch drives:
    * every batch would re-load state from the checkpoint (measured:
    * q257 1.56→3.60 s), so the default stays off and the override
    * lives only around the 2-batch join gates.
    */
  def withUnloadOnCommit[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.unloadOnCommit"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "true")
    try body finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }
}
