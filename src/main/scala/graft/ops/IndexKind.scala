package graft.ops

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.util.{Memo, OrderedFeed, PlanWitness, StreamTuning, TmpDirs}

/** One vector-index family (IVF, PQ, binary) as the manifest-chain
  * maintenance verbs see it. A kind supplies only its math; the verbs
  * in the companion object are written once over it.
  */
abstract class IndexKind {
  /** Scratch-name prefix: "ivf", "pq", "bin". */
  val name: String
  /** Report label (q363's `family` column). */
  def family: String = name
  /** BuildCost labels of the trigger→action and the maintenance loop. */
  val triggerLabel: String
  val loopLabel: String
  /** Manifest names of the trained surface (centroids, codebook,
    * thresholds) and of the encoded units, which a chain stores as
    * `<codes>_base` (even ids) and `<codes>_delta` (odd ids).
    */
  val surface: String
  val codes: String
  /** The undrifted corpus and the arrived one (odd half re-embedded
    * by a drifted model), both as (vec_id, vector).
    */
  def base(s: SparkSession, d: String): DataFrame
  def arrived(s: SparkSession, d: String): DataFrame
  /** The surface trained on the base half, and the same-size surface
    * re-drawn from `corpus`.
    */
  def frozen(corpus: DataFrame): DataFrame
  def refreshed(corpus: DataFrame): DataFrame
  /** The index rows of the `corpus` rows matching `part` under `surf`. */
  def encode(corpus: DataFrame, part: Column, surf: DataFrame): DataFrame
  /** Units no verb re-stages (PQ's coarse centroids). */
  def statics(corpus: DataFrame): Seq[(String, DataFrame)] = Nil
  /** The stamp's meta columns: head measure, refreshed measure, then
    * any extra term the rule needs.
    */
  val metaCols: Seq[String] = Seq("dist_head_us", "dist_refreshed_us")
  /** `corpus` measured under `head` and under its own refreshed
    * surface — exact integers, in `metaCols` order.
    */
  def stamp(corpus: DataFrame, head: DataFrame): Seq[Long]
  /** The integer rebuild rule over a stamp. Strict at zero: a
    * converged or empty chain stamps a zero head measure and must
    * never re-fire.
    */
  def fires(st: Seq[Long]): Boolean = st(0) > 0L && st(0) >= 2L * st(1)
  /** Top-3 (query_id, vec_id) for (query_id, qe) queries off a
    * resolved snapshot, plus the serve's own plan witness (true for a
    * serve that has none).
    */
  def serve(snap: Map[String, DataFrame], qs: DataFrame): (DataFrame, Boolean)
  /** The trigger→action's last witness: the head serving every query
    * (true) or the head's own rule re-measured quiet (false).
    */
  val triggerWitnessServes: Boolean = false
  /** The loop's last witness: the serve's plan witness on each batch
    * (true) or the head serving every query (false).
    */
  val loopWitnessPushdown: Boolean = false
}

/** The index-lifecycle skeleton over [[IndexKind]].
  *
  * Every chain is a manifest chain (`Audit.occCommitNShared`): version
  * v names one immutable unit per table — `corpus_base`, `corpus_delta`,
  * the kind's statics, its surface, `<codes>_base`, `<codes>_delta` and
  * (for stamped chains) `meta`. A commit stages fresh only the units it
  * changes; every other unit re-lists by name. Two chains run the same
  * code: `drift` (the arrived corpus) and `ctl` (the undrifted one).
  *
  *  - Trigger→action: genesis under the frozen surface; the kind's rule
  *    measured off the head's manifest-resolved surface; on fire, one
  *    commit of the refreshed surface and both code units (an index
  *    probed under the wrong surface generation is the torn state the
  *    atom prevents); then the head must equal a from-scratch encode
  *    under the surface the decision mandates.
  *  - Maintenance loop: both chains start at the base genesis, and one
  *    probe stream serves both in three ordered one-file batches. Per
  *    batch and chain: resolve the head, run the stamped check (the
  *    manifest plus ONE meta row, plan-witnessed), refresh if it fires
  *    at v1, serve the batch at the batch-start version; after batch 0
  *    the ingest lands — drift stages only its arriving bytes (the
  *    delta corpus, its codes under the unchanged frozen surface, the
  *    stamp), ctl re-stamps and re-lists everything else. So drift
  *    goes 0→1→2 and ctl 0→1→1. After the drive every batch is
  *    re-served at its resolved version and compared, and the ctl
  *    chain's serving units must be byte-pinned.
  *  - Stamps are measured outside the stream by the writer that owns
  *    each commit; a refresh stamps itself quiet.
  *  - Scheduler: one pass per batch walks every registered chain's
  *    stamped check and fires each hot kind's refresh.
  *
  * Scale shape: a check is a KB manifest read plus one meta row; an
  * ingest pays one encode and one measure over its own delta; a
  * refresh re-encodes under the new surface and renames one manifest.
  */
object IndexKind {
  type TriggerRow = (String, Boolean, Long, Boolean, Boolean, Boolean)
  type LoopRow = (String, Long, Long, Boolean, Boolean, Boolean, Boolean,
    Boolean, Boolean, Boolean)
  type SchedRow = (String, Long, Long, Boolean, Boolean, Boolean, Boolean,
    Boolean)

  private val chains = Seq("ctl", "drift")
  private val odd = col("vec_id") % 2 === 1
  private val halves = Seq("base" -> (col("vec_id") % 2 === 0), "delta" -> odd)

  /** A snapshot's base and delta units of `unit`, as one relation. */
  private[ops] def halvesOf(snap: Map[String, DataFrame], unit: String)
      : DataFrame =
    snap(s"${unit}_base").unionByName(snap(s"${unit}_delta"))

  /** The probe queries of a (vec_id, vector) corpus: ids ≡ 51 mod 100
    * (odd, so drifted on the drift chain).
    */
  private def queries(corpus: DataFrame): DataFrame =
    corpus.filter(col("vec_id") % 100 === 51).toDF("query_id", "qe")

  private def stampDf(s: SparkSession, k: IndexKind, st: Seq[Long])
      : DataFrame =
    s.createDataFrame(java.util.List.of(Row.fromSeq(st)),
      StructType(k.metaCols.map(StructField(_, LongType, nullable = false))))

  /** The surface plus both code units of `corpus` under `surf`. */
  private def indexUnits(k: IndexKind, corpus: DataFrame, surf: DataFrame)
      : Seq[(String, DataFrame)] =
    (k.surface -> surf) +: halves.map { case (h, p) =>
      s"${k.codes}_$h" -> k.encode(corpus, p, surf) }

  /** Write version 0 of a chain over `corpus` under the frozen surface. */
  private def genesis(s: SparkSession, k: IndexKind, root: String,
      corpus: DataFrame, st: Option[Seq[Long]]): Unit = {
    import s.implicits._
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/manifest"))
    val units = halves.map { case (h, p) => s"corpus_$h" -> corpus.filter(p) } ++
      k.statics(corpus) ++ indexUnits(k, corpus, k.frozen(corpus)) ++
      st.map(x => "meta" -> stampDf(s, k, x))
    units.foreach { case (n, df) =>
      df.write.mode("overwrite").parquet(s"$root/data/${n}_0") }
    units.map { case (n, _) => (n, s"data/${n}_0") }
      .toDF("tbl", "unit").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/manifest/v0")
  }

  /** Commit `fresh` over version `v`; every other unit of v re-lists
    * by name.
    */
  private def commit(s: SparkSession, root: String, head: AtomicLong,
      v: Long, fresh: Seq[(String, DataFrame)], what: String): Unit = {
    val u = Audit.manifestUnits(s, root, v)
    val names = fresh.map(_._1).toSet
    val kept = u.keys.toSeq.sorted.filterNot(names).map(n =>
      n -> (Left(u(n)): Either[String, DataFrame]))
    require(Audit.occCommitNShared(s, root, head, v,
      kept ++ fresh.map { case (n, df) => n -> Right(df) }),
      s"$what holds the head")
  }

  /** The refresh: the surface re-drawn from `corpus`, both code units
    * re-encoded under it, and the quiet re-stamp.
    */
  private def refreshUnits(s: SparkSession, k: IndexKind, corpus: DataFrame,
      st: Seq[Long]): Seq[(String, DataFrame)] =
    indexUnits(k, corpus, k.refreshed(corpus)) :+
      ("meta" -> stampDf(s, k, st.updated(0, st(1))))

  /** The stamped check: resolve version v's manifest, read its ONE
    * meta row, apply the kind's rule — and witness off the executed
    * plan that the read scanned only the meta unit. Returns (fires,
    * meta-only).
    */
  private[graft] def check(ss: SparkSession, root: String, v: Long,
      k: IndexKind): (Boolean, Boolean) = {
    val unit = s"$root/${Audit.manifestUnits(ss, root, v)("meta")}"
    val df = ss.read.parquet(unit)
    val r = df.collect()(0) // 1 bounded row — THE decision
    (k.fires(k.metaCols.map(r.getAs[Long])), PlanWitness.scanOnly(df, unit))
  }

  private def servesAll(k: IndexKind, snap: Map[String, DataFrame],
      qs: DataFrame): Boolean =
    k.serve(snap, qs)._1.select(col("query_id")).distinct().count() ==
      qs.count()

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).count() + b.exceptAll(a).count() == 0L

  private val trigMemo =
    new Memo[(SparkSession, String, IndexKind), Seq[TriggerRow]]

  /** Per chain: (chain, fired, head version, code units ≡ expected,
    * surface ≡ expected, the kind's head witness).
    */
  private[graft] def triggerAction(s: SparkSession, d: String, k: IndexKind)
      : Seq[TriggerRow] =
    trigMemo((s, d, k), k.triggerLabel) {
      chains.map { chain =>
        val corpus = if (chain == "drift") k.arrived(s, d) else k.base(s, d)
        val root = TmpDirs.scratchFor(s"${k.name}_trigact_$chain", d)
        genesis(s, k, root, corpus, None)
        val head = new AtomicLong(0)
        val headSurf = Audit.readNSnapshot(s, root, head.get())(k.surface)
        val fires = k.fires(k.stamp(corpus, headSurf))
        if (fires) commit(s, root, head, 0L,
          indexUnits(k, corpus, k.refreshed(corpus)),
          s"the trigger-driven refresh ($chain)")
        val hv = head.get()
        val snap = Audit.readNSnapshot(s, root, hv)
        val exp = indexUnits(k, corpus,
          if (fires) k.refreshed(corpus) else k.frozen(corpus)).toMap
        def same(n: String) = sameRows(snap(n), exp(n))
        val headOk =
          if (k.triggerWitnessServes) servesAll(k, snap, queries(corpus))
          else !k.fires(k.stamp(corpus, snap(k.surface)))
        (chain, fires, hv,
          halves.forall { case (h, _) => same(s"${k.codes}_$h") },
          same(k.surface), headOk)
      }
    }

  /** Write the probe ids of `qs` as `n` ordered one-file chunks. */
  private def writeFeed(feed: String, qs: DataFrame, chunk: Column,
      n: Int): Unit =
    (0 until n).foreach { c =>
      OrderedFeed.writeChunk(s"$feed/c$c", c,
        qs.select(col("query_id")).filter(chunk === c))
    }

  /** Serve `batch`'s queries at version v and record the answers
    * under the batch's decision header.
    */
  private def serveBatch(ss: SparkSession, k: IndexKind, root: String,
      v: Long, batch: DataFrame, qs: DataFrame,
      dec: (Boolean, Boolean, Boolean), out: String): Unit = {
    val (fired, metaOnly, acted) = dec
    val (served, pushed) = k.serve(Audit.readNSnapshot(ss, root, v),
      batch.select(col("query_id")).join(qs, Seq("query_id")))
    served
      .withColumn("resolved_v", lit(v))
      .withColumn("trigger_fired", lit(fired))
      .withColumn("committed", lit(acted))
      .withColumn("check_meta_only", lit(metaOnly))
      .withColumn("serve_pushed", lit(pushed))
      .write.mode("overwrite").parquet(out)
  }

  /** Post-drive, per recorded batch: its header (resolved_v,
    * trigger_fired, committed, check_meta_only, serve_pushed) and
    * whether its answers equal a fresh serve of the same chunk at the
    * resolved version.
    */
  private def replay(s: SparkSession, k: IndexKind, root: String,
      out: String, feed: String, n: Int, qs: DataFrame)
      : Seq[(Long, Row, Boolean)] = {
    val served = s.read.parquet(out)
    (0L until n.toLong).map { id =>
      val b = served.filter(col("batch_id") === id)
      val hdr = b.select(col("resolved_v"), col("trigger_fired"),
          col("committed"), col("check_meta_only"), col("serve_pushed"))
        .limit(1).collect()(0) // 1 bounded control row
      val chunk = s.read.parquet(s"$feed/c$id").select(col("query_id"))
      val (ref, _) = k.serve(Audit.readNSnapshot(s, root, hdr.getLong(0)),
        chunk.join(qs, Seq("query_id")))
      (id, hdr, sameRows(b.select(col("query_id"), col("vec_id")),
        ref.select(col("query_id"), col("vec_id"))))
    }
  }

  private val loopMemo =
    new Memo[(SparkSession, String, IndexKind), Seq[LoopRow]]

  /** Per (chain, batch): resolved version, ingest landed, fired,
    * refresh committed, serve ≡ reference, ctl units pinned, meta-only
    * check, and the kind's loop witness.
    */
  private[graft] def maintLoop(s: SparkSession, d: String, k: IndexKind)
      : Seq[LoopRow] =
    loopMemo((s, d, k), k.loopLabel) {
      val base = k.base(s, d)
      val corpora = Map("ctl" -> base, "drift" -> k.arrived(s, d))
      val stamps = corpora.map { case (c, f) => c -> k.stamp(f, k.frozen(base)) }
      val roots = chains.map(c =>
        c -> TmpDirs.scratchFor(s"${k.name}_maint_$c", d)).toMap
      val heads = chains.map(c => c -> new AtomicLong(0)).toMap
      chains.foreach(c => genesis(s, k, roots(c), base, Some(stamps("ctl"))))
      def ctlServingFiles() =
        (k.surface +: halves.map(h => s"${k.codes}_${h._1}"))
          .map(u => Clustering.listDataFiles(
            java.nio.file.Paths.get(s"${roots("ctl")}/data/${u}_0")))
          .reduce(_ ++ _)
      val pinBefore = ctlServingFiles()
      val qVecs = corpora.map { case (c, f) => c -> queries(f) }
      val feed = TmpDirs.scratchFor(s"${k.name}_maint_feed", d)
      writeFeed(feed, qVecs("drift"), pmod(col("query_id"), lit(3)), 3)
      val outDir = TmpDirs.scratchFor(s"${k.name}_maint_out", d)
      StreamTuning.withShuffle(s, 8) {
        StreamTuning.drain(OrderedFeed.stream(s, feed)) { (batch, id) =>
          if (!batch.isEmpty) {
            val ss = batch.sparkSession
            chains.foreach { c =>
              val (root, v) = (roots(c), heads(c).get())
              val (fires, metaOnly) = check(ss, root, v, k)
              val refreshNow = fires && v == 1L
              if (refreshNow) commit(s, root, heads(c), 1L,
                refreshUnits(s, k, corpora(c), stamps(c)),
                s"the maintenance refresh ($c)")
              serveBatch(ss, k, root, v, batch, qVecs(c),
                (fires, metaOnly, refreshNow), s"$outDir/chain=$c/batch_id=$id")
              if (id == 0L) {
                val arriving =
                  if (c == "drift") Seq(
                    "corpus_delta" -> corpora(c).filter(odd),
                    s"${k.codes}_delta" -> k.encode(corpora(c), odd, k.frozen(base)))
                  else Nil
                commit(s, root, heads(c), 0L,
                  arriving :+ ("meta" -> stampDf(s, k, stamps(c))),
                  s"the ingest commit ($c)")
              }
            }
          }
        }
      }
      val ctlPinned = pinBefore == ctlServingFiles()
      chains.flatMap { c =>
        lazy val headComplete = servesAll(k,
          Audit.readNSnapshot(s, roots(c), heads(c).get()), qVecs(c))
        replay(s, k, roots(c), s"$outDir/chain=$c", feed, 3, qVecs(c)).map {
          case (id, hdr, equalsRef) =>
            (c, id, hdr.getLong(0), id == 0L, hdr.getBoolean(1),
              hdr.getBoolean(2), equalsRef, c != "ctl" || ctlPinned,
              hdr.getBoolean(3),
              if (k.loopWitnessPushdown) hdr.getBoolean(4) else headComplete)
        }
      }
    }

  /** ONE scheduler pass: walk every registered chain's stamped check
    * at its batch-start head and fire the kind's action for every hot
    * chain still at genesis. Returns per kind (fired, meta-only,
    * acted).
    */
  private def maintSchedulerTick(ss: SparkSession,
      chains: Seq[(IndexKind, String)], vs: Map[IndexKind, Long],
      actions: Map[IndexKind, () => Unit])
      : Map[IndexKind, (Boolean, Boolean, Boolean)] =
    chains.map { case (k, root) =>
      val (fires, metaOnly) = check(ss, root, vs(k), k)
      val act = fires && vs(k) == 0L
      if (act) actions(k)()
      k -> ((fires, metaOnly, act))
    }.toMap

  private val schedMemo =
    new Memo[(SparkSession, String, Seq[IndexKind]), Seq[SchedRow]]

  /** One chain per kind, each born HOT (its drifted ingest landed
    * before the stream, stamped by that writer), served by one probe
    * stream of two batches: batch 0's single scheduler pass fires
    * every kind's refresh, batch 1 serves the refreshed heads and
    * finds every chain quiet. Per (kind, batch): resolved version,
    * fired, acted, serve ≡ reference, meta-only check, and exactly
    * one scheduler pass per batch.
    */
  private[graft] def scheduler(s: SparkSession, d: String,
      kinds: Seq[IndexKind]): Seq[SchedRow] =
    schedMemo((s, d, kinds), "maint_scheduler") {
      val corpora = kinds.map(k => k -> k.arrived(s, d)).toMap
      val stamps = kinds.map(k =>
        k -> k.stamp(corpora(k), k.frozen(corpora(k)))).toMap
      val roots = kinds.map(k =>
        k -> TmpDirs.scratchFor(s"sched_${k.name}", d)).toMap
      kinds.foreach(k =>
        genesis(s, k, roots(k), corpora(k), Some(stamps(k))))
      val heads = kinds.map(k => k -> new AtomicLong(0)).toMap
      val actions: Map[IndexKind, () => Unit] = kinds.map(k =>
        k -> (() => commit(s, roots(k), heads(k), 0L,
          refreshUnits(s, k, corpora(k), stamps(k)),
          s"the scheduler-fired ${k.family} refresh"))).toMap
      val qVecs = kinds.map(k => k -> queries(corpora(k))).toMap
      val feed = TmpDirs.scratchFor("sched_feed", d)
      // ids are 51 + 100j (all odd): chunk by j's parity, not the id's
      writeFeed(feed, qVecs(kinds.head),
        pmod(((col("query_id") - 51) / 100).cast("long"), lit(2)), 2)
      val outDir = TmpDirs.scratchFor("sched_out", d)
      val ticks = new AtomicLong(0)
      StreamTuning.withShuffle(s, 8) {
        StreamTuning.drain(OrderedFeed.stream(s, feed)) { (batch, id) =>
          if (!batch.isEmpty) {
            val ss = batch.sparkSession
            val vs = kinds.map(k => k -> heads(k).get()).toMap
            val dec = maintSchedulerTick(ss, kinds.map(k => k -> roots(k)), vs,
              actions)
            ticks.incrementAndGet()
            kinds.foreach(k => serveBatch(ss, k, roots(k), vs(k), batch,
              qVecs(k), dec(k), s"$outDir/family=${k.family}/batch_id=$id"))
          }
        }
      }
      val singlePass = ticks.get() == 2L
      kinds.flatMap { k =>
        replay(s, k, roots(k), s"$outDir/family=${k.family}", feed, 2,
          qVecs(k)).map { case (id, hdr, equalsRef) =>
            (k.family, id, hdr.getLong(0), hdr.getBoolean(1),
              hdr.getBoolean(2), equalsRef, hdr.getBoolean(3), singlePass)
        }
      }
    }
}
