package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Memo
import graft.util.Tables._

/** Deduplication operators over `documents` (north-star LLM-pipeline
  * surface): exact (content-hash groupBy), MinHash+LSH candidate
  * mining, n-gram Jaccard, and SimHash — all engine-portable, so every
  * one is DuckDB-oracle-checked (hashes are built from md5, which both
  * engines evaluate identically over UTF-8).
  *
  * Scale shape: exact dedup is one hash-shuffle on a 16-byte key.
  * MinHash/LSH is the 100 TB path — per-doc signatures are computed in
  * a narrow codegen'd stage (HOFs over the shingle array, no explode of
  * the corpus), and only the tiny (doc_id, band) pairs shuffle into the
  * band self-join; band width (2 rows × 8 bands over 16 hashes) tunes
  * the candidate/recall trade-off. The Jaccard shingle join is the
  * exact-verification stage you run on LSH candidates only; here it is
  * also run corpus-wide (feasible at test sf) so the oracle can check
  * it independently.
  */
object Dedup {

  /** words → distinct word-3-gram shingles; docs with <3 words get an
    * empty shingle set and are excluded from MinHash/Jaccard. Plain
    * Scala, used inside mapPartitions stages — semantics mirror the
    * oracle's ShinglesCte exactly (regex \s+ split keeping trailing
    * empties, then order-preserving distinct).
    */
  private def shingleSet(text: String): Array[String] = {
    val ws = text.split("\\s+", -1)
    if (ws.length < 3) Array.empty
    else ws.sliding(3).map(_.mkString(" ")).toArray.distinct
  }

  /** MinHash family: ONE md5 per shingle, then k affine transforms
    * h_k(s) = (a_k·(h(s) mod P) + b_k) mod P over a Mersenne prime —
    * 16× less hashing than md5-per-(k,shingle), and every step is
    * exact long arithmetic that DuckDB reproduces bit-for-bit
    * (a_k·x ≤ 2^31·2^31 < 2^63, no overflow).
    */
  private val P = 2147483647L // 2^31 - 1

  /** Exact dedup: canonical (min) doc per distinct content. */
  def exactDedup(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))

  /** doc_id + 16 MinHash values (affine family over one base md5 per
    * shingle), for docs with a non-empty shingle set.
    *
    * The base hashes are computed as columns (codegen'd md5), but the
    * 16 per-hash minima run in a typed map: expressed as nested HOF
    * lambdas, CollapseProject inlines the base-hash column into the
    * 16-iteration lambda (statically a single reference), re-evaluating
    * shingle construction + md5 sixteen times per doc — measured 10×
    * slower. The object boundary is a hard barrier Catalyst cannot
    * inline across, and the inner loop is exact long arithmetic that
    * the DuckDB oracle reproduces bit-for-bit.
    */
  /** md5 first-15-hex-digits as non-negative long, mod P — identical
    * to the oracle's ('0x'||substr(md5(s),1,15))::BIGINT % P.
    */
  private def md5ModP(digest: java.security.MessageDigest, s: String): Long = {
    val b = digest.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
    (v >>> 4) % P // first 60 bits = first 15 hex digits
  }

  /** (doc_id, text) → (doc_id, 16 MinHash values) for docs with a
    * non-empty shingle set.
    *
    * Shingling + hashing run in a typed mapPartitions rather than HOF
    * columns: higher-order-function lambdas evaluate interpreted (no
    * codegen), CollapseProject re-inlines single-reference producer
    * columns into consumers (multiplying evaluation 16×), and the
    * Seq[String] encoder alone costs ~20µs/element — measured 10×
    * slower end-to-end than this object-side loop. Deserialization
    * here is two flat fields; the loop is exact long arithmetic the
    * DuckDB oracle reproduces bit-for-bit.
    */
  private[graft] def signatures(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val digest = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val shingles = shingleSet(text)
          if (shingles.isEmpty) Iterator.empty
          else {
            val base = shingles.map(md5ModP(digest, _))
            val sig = Array.tabulate(16) { k =>
              val a = (1103515245L * (k + 1) % P) | 1L
              val bb = 1234567891L * (k + 7) % P
              var m = Long.MaxValue
              base.foreach { h => val x = (h * a + bb) % P; if (x < m) m = x }
              m
            }
            Iterator.single((id, sig))
          }
        }
      }
      .toDF("doc_id", "sig")
  }

  /** LSH banding (8 bands × 2 rows) → (doc_id, band_no, band value),
    * cache()d and memoized per (session, sf dir) like Tables: q27, q28
    * and q51 all start from the same banding, and the signature stage
    * (md5 over every shingle) is the expensive part. The cache is also
    * a plan barrier that stops CollapseProject from inlining the
    * base-hash column into the 16 per-hash lambdas (statically one
    * reference, but dynamically 16 evaluations → md5 would be
    * recomputed per (hash, shingle) — measured 10× slower).
    */
  private val bandsCache = new Memo[(SparkSession, String), DataFrame]
  /** (doc_id, sig) → (doc_id, band_no, band) — 8 bands × 2 rows; shared
    * by the batch lshBands cache and the streaming incremental dedup
    * (graft.streaming.DedupStreams), so both paths band identically.
    */
  private[graft] def bandsOf(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(7)),
        b => concat_ws("_",
          element_at(col("sig"), b * 2 + 1),
          element_at(col("sig"), b * 2 + 2)))))
      .withColumnRenamed("pos", "band_no")
      .withColumnRenamed("col", "band")
  private def lshBands(s: SparkSession, d: String): DataFrame =
    bandsCache((s, d))(graft.util.CacheRegistry.register(
      bandsOf(signatures(documents(s, d))).cache()))

  /** Distinct LSH candidate pairs (band self-join). */
  private def candidatePairs(s: SparkSession, d: String): DataFrame = {
    val bands = lshBands(s, d)
    bands.as("x").join(bands.as("y"),
        col("x.band_no") === col("y.band_no") &&
          col("x.band") === col("y.band") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
  }

  /** MinHash signatures + LSH banding → distinct candidate pairs. */
  def minhashPairs(s: SparkSession, d: String): DataFrame =
    candidatePairs(s, d).orderBy(col("a"), col("b"))

  /** Candidate pairs scored with EXACT n-gram Jaccard, memoized per
    * (session, sf dir) — q28 and q51's component run both consume it.
    */
  private val scoredCache = new Memo[(SparkSession, String), DataFrame]
  private[ops] def scoredPairs(s: SparkSession, d: String): DataFrame =
    scoredCache((s, d))(graft.util.CacheRegistry.register {
      import s.implicits._
      val texts = documents(s, d).select(col("doc_id"), col("text"))
      candidatePairs(s, d)
        .join(texts.select(col("doc_id").as("a"), col("text").as("ta")), Seq("a"))
        .join(texts.select(col("doc_id").as("b"), col("text").as("tb")), Seq("b"))
        .select(col("a"), col("b"), col("ta"), col("tb"))
        .as[(Long, Long, String, String)]
        .map { case (a, b, ta, tb) =>
          val sa = shingleSet(ta).toSet
          val sb = shingleSet(tb).toSet
          val common = sa.count(sb.contains)
          (a, b, common.toLong, sa.size.toLong, sb.size.toLong,
            common.toDouble / (sa.size + sb.size - common))
        }
        .toDF("a", "b", "common", "za", "zb", "jac")
        .cache()
    })

  /** Near-dup pipeline, production shape: LSH candidate pairs verified
    * with EXACT n-gram Jaccard (set intersection over the two shingle
    * sets), keeping pairs ≥ 0.5. Verification cost is O(candidates),
    * not O(corpus²) — the composition that survives 100 TB. The oracle
    * mirrors the whole composition (banding included), so the exact
    * Jaccard arithmetic is still hash-checked end-to-end.
    */
  def jaccardPairs(s: SparkSession, d: String): DataFrame =
    scoredPairs(s, d)
      .filter(col("jac") >= 0.5)
      .select(col("a"), col("b"), round(col("jac"), 4).as("jaccard"))
      .orderBy(col("a"), col("b"))

  /** q234: cross-language duplicate detection — LSH-verified near-dup
    * pairs whose two documents carry DIFFERENT language labels. In a
    * multilingual corpus these are mislabeled copies, boilerplate that
    * ignores language, or translation artifacts — exactly the rows a
    * per-language dedup pass (which partitions by lang first) would
    * never compare, so they need this dedicated cross-partition cut.
    * Reported at the relaxed 0.3 floor: cross-language near-dups of
    * interest sit below the same-language 0.5 dedup bar.
    *
    * Scale shape: rides the shared scoredPairs candidates (shingle
    * pass paid once across q28/q213/q214/q234); the language join is
    * two probes into the doc-catalog dimension.
    */
  def crossLangDups(s: SparkSession, d: String, minJac: Double = 0.3): DataFrame = {
    val langs = documents(s, d).select(col("doc_id"), col("lang"))
    scoredPairs(s, d)
      .filter(col("jac") >= minJac)
      .join(langs.select(col("doc_id").as("a"), col("lang").as("lang_a")), Seq("a"))
      .join(langs.select(col("doc_id").as("b"), col("lang").as("lang_b")), Seq("b"))
      .filter(col("lang_a") =!= col("lang_b"))
      .select(col("a"), col("b"), col("lang_a"), col("lang_b"),
        round(col("jac"), 4).as("jaccard"))
      .orderBy(col("a"), col("b"))
  }

  /** q213: CONTAINMENT similarity on the LSH candidates —
    * C(A,B) = |A∩B| / min(|A|, |B|) (Broder's containment), with the
    * inclusion direction. Symmetric Jaccard under-scores a short doc
    * embedded inside a long one (|A∩B|/|A∪B| is diluted by the long
    * side), so a dedup pass keyed on q28 alone misses quote/excerpt
    * duplication; containment is the statistic that catches it.
    * Same O(candidates) verification shape as q28 — the shared
    * scoredPairs cache means the shingle-set pass is paid once across
    * q28/q213/q214.
    */
  def containmentPairs(s: SparkSession, d: String): DataFrame = {
    val c = col("common").cast("double") /
      least(col("za"), col("zb")).cast("double")
    scoredPairs(s, d)
      .filter(c >= 0.6)
      .select(col("a"), col("b"), col("za"), col("zb"),
        round(c, 4).as("containment"),
        when(col("za") < col("zb"), lit("a_in_b"))
          .when(col("zb") < col("za"), lit("b_in_a"))
          .otherwise(lit("equal_size")).as("direction"))
      .orderBy(col("a"), col("b"))
  }

  /** q214: MinHash estimator CALIBRATION audit — per candidate pair,
    * the sketch estimate (agreeing signature positions / 16) against
    * the exact Jaccard, bucketed by exact similarity (width 0.2). The
    * sketch-quality check that says whether 16 hashes are enough for
    * the corpus's similarity profile (E[est] = jac; spread shrinks as
    * 1/√k) — the q84-style "audit the approximation against ground
    * truth" discipline applied to the dedup sketch itself.
    *
    * Determinism: agreement counts are integers; jac is the identical
    * double on both engines; est−jac quantizes to micro-units before
    * the per-bucket mean so averages are order-free.
    */
  def minhashCalibration(s: SparkSession, d: String): DataFrame = {
    val sigs = signatures(documents(s, d))
    val pe = scoredPairs(s, d)
      .join(sigs.select(col("doc_id").as("a"), col("sig").as("sa")), Seq("a"))
      .join(sigs.select(col("doc_id").as("b"), col("sig").as("sb")), Seq("b"))
      .select(col("jac"),
        size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y),
          b => b)).cast("long").as("agree"))
    pe.groupBy(floor(col("jac") * 5).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("agree")).as("agree_total"),
        sum(floor(col("jac") * 1e6 + 0.5).cast("long")).as("jac_u"),
        sum(floor(abs(col("agree").cast("double") / 16 - col("jac")) * 1e6 + 0.5)
          .cast("long")).as("err_u"))
      .select(col("bucket"), col("n_pairs"),
        round(col("agree_total").cast("double")
          / (col("n_pairs").cast("double") * 16), 4).as("mean_est"),
        round(col("jac_u").cast("double")
          / (col("n_pairs").cast("double") * 1e6), 4).as("mean_jac"),
        round(col("err_u").cast("double")
          / (col("n_pairs").cast("double") * 1e6), 4).as("mean_abs_err"))
      .orderBy(col("bucket"))
  }

  /** Corpus-level MinHash sketch per language through the custom typed
    * `Aggregator` (graft.functions.MinHashAgg): shingle base hashes
    * flow into a fully algebraic 16-min buffer — map-side partial
    * aggregation means the shuffle carries one 16-long sketch per
    * (group × partition) no matter the corpus size. Output exploded to
    * (lang, k, minhash) rows so the DuckDB oracle pins all 16
    * transforms of the affine family.
    */
  def minhashAggByLang(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sketch = udaf(graft.functions.MinHashAgg)
    documents(s, d).select(col("lang"), col("text"))
      .as[(String, String)]
      .mapPartitions { it =>
        val digest = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (lang, text) =>
          shingleSet(text).iterator.map(sh => (lang, md5ModP(digest, sh)))
        }
      }
      .toDF("lang", "h")
      .groupBy(col("lang"))
      .agg(sketch(col("h")).as("sig"))
      .select(col("lang"), posexplode(col("sig")))
      .select(col("lang"), col("pos").cast("long").as("k"), col("col").as("minhash"))
      .orderBy(col("lang"), col("k"))
  }

  /** 16-bit SimHash fingerprint over distinct words (majority bit
    * vote), computed entirely in HOF expressions.
    */
  def simhash(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("h", expr(
        """transform(array_distinct(split(text, '\\s+')),
          |  w -> cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint))""".stripMargin))
      .withColumn("simhash", expr(
        """aggregate(sequence(0, 15), cast(0 as bigint), (acc, j) ->
          |  acc + CASE WHEN 2 * size(filter(h, v -> (shiftright(v, j) & 1) = 1)) >= size(h)
          |             THEN shiftleft(cast(1 as bigint), j) ELSE cast(0 as bigint) END)""".stripMargin))
      .select(col("doc_id"), col("simhash"))
      .orderBy(col("doc_id"))

  /** SimHash near-dup census (pair counts per Hamming distance ≤ 3
    * over the 16-bit fingerprint), aggregation-first: docs collapse to
    * the DISTINCT-fingerprint histogram (≤ 2^16 rows forever, one
    * map-side-combined shuffle), then each fingerprint expands to its
    * 697 Hamming-ball masks (Σ C(16,k), k ≤ 3) and EQUALITY-joins the
    * histogram — a broadcast hash join over ≤ 45M expanded rows, never
    * a nested loop. Pair counts: c·(c−1) div 2 within a fingerprint
    * (exact integer division — the product is even, and div keeps the
    * count in the long domain where `/` would round through double),
    * c_x·c_y across, counted once via x < x^m. Work is bounded by the
    * fingerprint space × ball size, not the corpus: the doc-pair form
    * (even pigeonhole-banded) goes quadratic because majority-vote
    * fingerprints cluster heavily, and the histogram² nested-loop form
    * is 2^32 comparisons at saturation. The oracle brute-forces all
    * doc pairs, so equality proves the rewrite exact.
    */
  def simhashNearDup(s: SparkSession, d: String): DataFrame = {
    val counts = graft.util.CacheRegistry.register(
      simhash(s, d).groupBy(col("simhash"))
        .agg(count(lit(1)).as("c")).cache()) // ≤ 65536 rows
    val ballMasks = (0 until 1 << 16).filter(Integer.bitCount(_) <= 3).map(_.toLong)
    counts
      .select(col("simhash"), col("c"), explode(typedLit(ballMasks)).as("m"))
      .select(col("simhash"), col("c"),
        col("simhash").bitwiseXOR(col("m")).as("nbr"),
        expr("cast(bit_count(m) as bigint)").as("hd"))
      .filter(col("hd") === 0 || col("simhash") < col("nbr"))
      .join(broadcast(counts.select(col("simhash").as("nbr"), col("c").as("cy"))),
        Seq("nbr"))
      .select(col("hd"),
        when(col("hd") === 0, expr("c * (c - 1) div 2"))
          .otherwise(col("c") * col("cy")).cast("long").as("np"))
      .groupBy(col("hd")).agg(sum(col("np")).as("n_pairs"))
      .orderBy(col("hd"))
  }

  /** Edit-distance similarity join over the distinct part-name
    * vocabulary: pairs of names sharing their head noun (last token —
    * the blocking key) within Levenshtein distance ≤ 3.
    *
    * Blocking turns the quadratic all-pairs problem into an
    * equi-shuffle join on the block key with per-block local pairs —
    * the standard fuzzy-join shape (block → verify). The expensive
    * `levenshtein` verify runs only on block-local candidates, and the
    * vocabulary is DISTINCT names (bounded), never the row stream.
    */
  def editDistancePairs(s: SparkSession, d: String): DataFrame = {
    val names = part(s, d).select(col("p_name")).distinct()
      .withColumn("noun", element_at(split(col("p_name"), " "), -1))
    val a = names.select(col("p_name").as("name_a"), col("noun"))
    val b = names.select(col("p_name").as("name_b"), col("noun"))
    a.join(b, Seq("noun"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 3)
      .select(col("name_a"), col("name_b"), col("dist"))
      .orderBy(col("name_a"), col("name_b"))
  }

  /** q159: streaming key dedup through the driver gate — `readStream`
    * over the events table, `dropDuplicates(user_id)` holding the
    * seen-key set in the state store (~97 % of the stream drops
    * against it), AvailableNow drain, append-mode emission of each
    * first occurrence into a distributed parquet sink — gated by the
    * plain `SELECT DISTINCT user_id` oracle. With q154 this puts a
    * second stateful streaming operator (dedup state, vs
    * session-window state) under the driver's hash gate; it's the
    * incremental build of a user dimension from an event stream. Only
    * the key is emitted, so the result is deterministic no matter
    * which physical row wins the state race.
    *
    * Scale shape: state = one 8-byte key per DISTINCT user — the
    * streaming twin of q26's fingerprint-key shuffle; an unbounded
    * stream runs the same topology with `withWatermark` to bound
    * state (the documented B1-style trade).
    */
  def streamDedup(s: SparkSession, d: String): DataFrame = {
    // emission-on-arrival (no watermark): the no-data batch is pure
    // state-store re-commit overhead — skip it (StreamTuning scaladoc)
    graft.util.StreamTuning.withNoDataSkip(s) {
    graft.util.StreamTuning.withUnloadOnCommit(s) {
    graft.util.StreamTuning.withShuffle(s, 8) {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val path = s"$d/events.parquet"
      val out = graft.util.TmpDirs.scratch("stream-dedup")
      graft.util.StreamTuning.drain(
          s.readStream.schema(graft.util.Tables.table(s, d, "events").schema)
            .parquet(s"$d/events.parquet*")
            .select(col("user_id"))
            .dropDuplicates("user_id")) { (batch, _) =>
        batch.write.mode("append").parquet(out)
      }
      s.read.parquet(out).orderBy(col("user_id"))
    }
    }
    }
  }

  /** q182: streaming dedup with BOUNDED state —
    * `dropDuplicatesWithinWatermark`, the state-expiring variant of
    * q159's unbounded `dropDuplicates`. The watermark lets the state
    * store evict keys older than the horizon, which is the difference
    * between "state = all keys ever seen" (q159, fine for a finite
    * backlog) and "state = one horizon of keys" (what an unbounded
    * 100 TB stream actually requires).
    *
    * On the finite AvailableNow backlog both forms emit the same
    * first-occurrence key set, which is exactly what makes the
    * expiring form gate-able against the batch DISTINCT oracle.
    */
  def streamDedupWatermark(s: SparkSession, d: String): DataFrame = {
    // dropDuplicatesWithinWatermark emits each key's FIRST occurrence
    // on arrival; the no-data batch only evicts state — skip it
    graft.util.StreamTuning.withNoDataSkip(s) {
    graft.util.StreamTuning.withUnloadOnCommit(s) {
    graft.util.StreamTuning.withShuffle(s, 8) {
      val path = s"$d/events.parquet"
      val out = graft.util.TmpDirs.scratch("stream-dedup-wm")
      val firsts = graft.util.Tables.normalizeTs(
          s.readStream.schema(graft.util.Tables.table(s, d, "events").schema)
            .parquet(s"$d/events.parquet*"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id")
        .select(col("user_id"))
      graft.util.StreamTuning.drain(firsts) { (batch, _) =>
        batch.write.mode("append").parquet(out)
      }
      s.read.parquet(out).orderBy(col("user_id"))
    }
    }
    }
  }

  /** q201: streaming INCREMENTAL near-dup dedup through the driver gate
    * — the continuous-ingest completion of the MinHash+LSH family. The
    * document stream runs the exact batch signature+banding stages
    * (shared code), then per-band min-doc_id state in
    * `transformWithState` (graft.streaming.DedupStreams) flags each doc
    * against every PRIOR doc without rescanning the admitted corpus;
    * the per-doc OR over its 8 band votes is batch-local (a doc's votes
    * all land in its own micro-batch), so the foreachBatch rollup needs
    * no second stateful operator. Gated by the arrival-order-free batch
    * form of the same statistic: doc is near-dup iff it shares a band
    * with a smaller doc_id (the q27 candidate relation, read from the
    * `b` side).
    *
    * Scale shape: state = 8 bytes per distinct band (RocksDB); shuffle
    * carries (band-key, doc_id) pairs only — identical bytes to the
    * batch LSH self-join, but amortized over ingest instead of paid as
    * a corpus rescan per refresh.
    */
  def streamNearDup(s: SparkSession, d: String): DataFrame =
    graft.util.StreamTuning.withUnloadOnCommit(s) {
    graft.util.StreamTuning.withShuffle(s, 8) {
      val path = s"$d/documents.parquet"
      val out = graft.util.TmpDirs.scratch("stream-neardup")
      val src = s.readStream.schema(graft.util.Tables.table(s, d, "documents").schema)
        .parquet(s"$d/documents.parquet*")
        .select(col("doc_id"), col("text"))
      graft.util.StreamTuning.drain(
          graft.streaming.DedupStreams.bandFlags(src).toDF()) { (batch, _) =>
        batch.groupBy(col("doc_id"))
          .agg(max(col("dup")).as("is_near_dup"))
          .write.mode("append").parquet(out)
      }
      s.read.parquet(out).orderBy(col("doc_id"))
    }
    }

  /** q270: streaming INCREMENTAL edit-distance dedup — q201's
    * continuous-ingest pattern applied to the q267 fuzzy matcher:
    * titles stream in, each is flagged `is_fuzzy_dup` iff some PRIOR
    * (smaller-id) title verifies within Levenshtein 2, against
    * per-segment-key state (graft.streaming.DedupStreams
    * SegmentMatchProcessor) that persists across micro-batches — new
    * data is fuzzy-deduplicated against everything already admitted
    * WITHOUT rescanning it. Candidates come from the same PassJoin
    * keys as batch (shared lemma, spec'd by the q267 property test);
    * the verify runs in-state on the stored 24-byte titles. Gated by
    * the arrival-order-free batch form: EXISTS a smaller-id title at
    * lev ≤ 2.
    *
    * Scale shape: shuffle carries (segment-key, doc_id, 24-char
    * title) rows — the constant q267 fan-out; state ≈ 40 B per
    * (key, doc) incidence in RocksDB, TTL-boundable.
    */
  def streamFuzzyDedup(s: SparkSession, d: String): DataFrame =
    // timer-less transformWithState: flags emit with their own batch;
    // the no-data batch emits nothing — skip it
    graft.util.StreamTuning.withNoDataSkip(s) {
    graft.util.StreamTuning.withUnloadOnCommit(s) {
    graft.util.StreamTuning.withShuffle(s, 8) {
      val path = s"$d/documents.parquet"
      val out = graft.util.TmpDirs.scratch("stream-fuzzydedup")
      val src = s.readStream.schema(graft.util.Tables.table(s, d, "documents").schema)
        .parquet(s"$d/documents.parquet*")
        .select(col("doc_id"), col("text"))
      graft.util.StreamTuning.drain(
          graft.streaming.DedupStreams.fuzzyFlags(src).toDF()) { (batch, _) =>
        batch.groupBy(col("doc_id"))
          .agg(max(col("dup")).as("is_fuzzy_dup"))
          .write.mode("append").parquet(out)
      }
      s.read.parquet(out).orderBy(col("doc_id"))
    }
    }
    }

  /** q300: checkpoint-restart recovery for the KEYED-CUSTOM-STATE
    * shape — q287's injected-crash/replay discipline (reference
    * guarantee: resume from persisted offsets, processedstore.go:4-7)
    * applied to q201's transformWithState band-min-id state (RocksDB),
    * the stateful shape the join+window (q287) and session-window
    * (q296) proofs do not cover. The document backlog is split into 3
    * doc_id-ordered chunks (the arrival contract the incremental flag
    * semantics require: arrival order respects doc_id order across
    * batches), crashing in batch 1; run 2 replays it against the band
    * state committed by batch 0. Gate: the per-doc rollup of the union
    * of both runs' votes — `is_near_dup` must equal the
    * arrival-order-free batch statistic (the q201 oracle) and
    * `n_votes` must equal the doc's exact band count (8): a
    * double-applied replay doubles it, a lost batch zeroes its docs
    * out of the domain.
    *
    * Scale shape: recovery cost is O(band state at the last commit +
    * one replayed batch) — the 8-bytes-per-band RocksDB state restores
    * from its changelog checkpoint, never by rescanning the admitted
    * corpus.
    */
  /** The q300 crash/replay drive, ONCE per (session, sf) — the
    * restart-family discipline (q287/q304): the fixture is built
    * state, gates re-read the batch-keyed sink dirs, first-touch cost
    * lands in the BuildCost ledger.
    */
  private val ndRestartMemo = new Memo[(SparkSession, String), String]

  private def ensureNearDupRestart(s: SparkSession, d: String): String =
    ndRestartMemo((s, d), "q300_neardup_restart_drive") {
      val split = graft.util.TmpDirs.scratchFor("neardup-restart-split", d)
      val out = graft.util.TmpDirs.scratchFor("neardup-restart-out", d)
      val ckpt = graft.util.TmpDirs.scratchFor("neardup-restart-ckpt", d)
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("text"))
      // exact-percentile doc_id boundaries (1-row bounded aggregate)
      val bs = docs.agg(expr(
          "percentile(doc_id, array(0.3333333333333333D, 0.6666666666666666D))")
        .as("b")).collect()(0).getSeq[Double](0)
      (0 until 3).foreach { k =>
        val lo = if (k == 0) lit(true) else col("doc_id") > lit(bs(k - 1))
        val hi = if (k == 2) lit(true) else col("doc_id") <= lit(bs(k))
        graft.util.OrderedFeed.writeChunk(s"$split/c$k", k,
          docs.filter(lo && hi))
      }
      val flags = graft.streaming.DedupStreams.bandFlags(
        graft.util.OrderedFeed.stream(s, split, docs.schema)).toDF()
      graft.util.StreamTuning.crashRestart(s, flags, ckpt, crashAt = 1L,
        width = 8) { (batch, id, _) =>
        batch.write.mode("overwrite").parquet(s"$out/batch_id=$id")
      }
      out
    }

  def streamNearDupRestart(s: SparkSession, d: String): DataFrame =
    graft.util.Mounts.parquet(s, ensureNearDupRestart(s, d))
      .groupBy(col("doc_id"))
      .agg(max(col("dup")).as("is_near_dup"),
        count(lit(1)).as("n_votes"))
      .orderBy(col("doc_id"))

  /** q267: bounded edit-distance SELF-JOIN (PassJoin partition
    * scheme, Li/Deng/Feng's segment lemma): every pair of 24-char
    * document title prefixes within Levenshtein distance k=2, without
    * ever forming all pairs. Partition each title into k+1=3 contiguous
    * segments: if ed(x, y) ≤ k, then y contains at least one of x's
    * segments EXACTLY, displaced by at most k positions — so
    * candidates come from an equi-join of (segment-index, 8-gram)
    * keys: the indexed side emits its 3 exact segments, the probe
    * side its substrings at each segment position ± k (≤ 15 keys per
    * doc, a constant), and `levenshtein` verifies candidates only.
    * The fuzzy-match primitive behind title/record linkage that
    * n-gram Jaccard (q28) is too coarse for.
    *
    * A deterministic typo'd variant (chars 3 and 15 substituted) of
    * every 7th title is planted — the catch-the-typo case the
    * operator exists for. The oracle is the BRUTE-FORCE all-pairs
    * scan, so the gate doubles as a completeness proof of the
    * partition scheme at every fixture sf.
    *
    * Scale shape: the only wide op ships (segment-index, 8-gram)
    * keys — constant fan-out per doc, never all-pairs; the verify
    * touches candidates only (the q27/q28 band-then-verify shape,
    * with a provably complete banding).
    */
  def editDistanceJoin(s: SparkSession, d: String, k: Int = 2): DataFrame = {
    require(k == 2, "segment layout below is derived for k = 2")
    val base = documents(s, d).filter(length(col("text")) >= 24)
      .select(col("doc_id"), substring(col("text"), 1, 24).as("title"))
    val planted = base.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 3000000000L).as("doc_id"),
        concat(substring(col("title"), 1, 2), lit("z"),
          substring(col("title"), 4, 11), lit("q"),
          substring(col("title"), 16, 9)).as("title"))
    val titles = graft.util.CacheRegistry.register(
      base.unionAll(planted).cache())
    val segs = titles.select(col("doc_id"), col("title"),
        explode(array((0 until 3).map(i =>
          struct(lit(i).as("i"),
            substring(col("title"), i * 8 + 1, 8).as("sg"))): _*)).as("e"))
      .select(col("doc_id"), col("title"), col("e.i").as("i"),
        col("e.sg").as("sg"))
    val probeKeys = for {
      i <- 0 until 3; dl <- -k to k
      p = i * 8 + 1 + dl; if p >= 1 && p + 7 <= 24
    } yield struct(lit(i).as("i"), substring(col("title"), p, 8).as("sg"))
    val probes = titles.select(col("doc_id").as("b_id"),
        col("title").as("tb"), explode(array(probeKeys: _*)).as("e"))
      .select(col("b_id"), col("tb"), col("e.i").as("i"), col("e.sg").as("sg"))
    segs.join(probes, Seq("i", "sg"))
      .filter(col("doc_id") < col("b_id"))
      .select(col("doc_id").as("a"), col("b_id").as("b"),
        col("title").as("ta"), col("tb"))
      .distinct()
      .withColumn("dist", levenshtein(col("ta"), col("tb")).cast("long"))
      .filter(col("dist") <= k)
      .select(col("a"), col("b"), col("dist"))
      .orderBy(col("a"), col("b"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q267_edit_distance_join" -> ((s: SparkSession, d: String) => editDistanceJoin(s, d)),
    "q270_stream_fuzzy_dedup" -> streamFuzzyDedup _,
    "q300_stream_neardup_restart" -> streamNearDupRestart _,
    "q201_stream_neardup" -> streamNearDup _,
    "q182_stream_dedup_wm" -> streamDedupWatermark _,
    "q159_stream_dedup"   -> streamDedup _,
    "q111_edit_distance"  -> editDistancePairs _,
    "q64_simhash_neardup" -> simhashNearDup _,
    "q26_dedup_exact"   -> exactDedup _,
    "q27_minhash_lsh"   -> minhashPairs _,
    "q28_jaccard_pairs" -> jaccardPairs _,
    "q213_containment"  -> containmentPairs _,
    "q234_crosslang_dups" -> ((s: SparkSession, d: String) => crossLangDups(s, d)),
    "q214_minhash_calibration" -> minhashCalibration _,
    "q29_simhash"       -> simhash _,
    "q57_minhash_agg"   -> minhashAggByLang _,
  )

  /** Shared oracle CTEs: shingles → base hash mod P → 16 affine
    * minhashes → 8 two-row bands → candidate pairs. Constants must
    * stay in lockstep with withSignature/lshBands above.
    */
  private val ShinglesCte =
    """ws AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws FROM documents),
      |sh AS (SELECT doc_id,
      |  CASE WHEN len(ws) >= 3
      |    THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
      |                        for i in range(1, len(ws) - 1)])
      |    ELSE [] END AS shingles
      |  FROM ws)""".stripMargin

  /** ShinglesCte + SignatureCte + candidate pairs + exact Jaccard
    * (`jaccard(a, b, common, za, zb, jac)`) — the full q28 pipeline as
    * a reusable CTE chain (q28 itself and Clustering's q51 both build
    * on it).
    */
  private[ops] def PairsCtes: String =
    s"""$ShinglesCte,
       |$SignatureCte,
       |cands AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bands x JOIN bands y
       |    ON x.band_no = y.band_no AND x.band = y.band AND x.doc_id < y.doc_id),
       |jaccard AS (SELECT a, b, common, za, zb,
       |    CAST(common AS DOUBLE) / (za + zb - common) AS jac
       |  FROM (SELECT a, b,
       |      len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS common,
       |      len(sa.shingles) AS za, len(sb.shingles) AS zb
       |    FROM cands
       |    JOIN sh sa ON sa.doc_id = a
       |    JOIN sh sb ON sb.doc_id = b))""".stripMargin

  private val SignatureCte =
    """ok AS (SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0),
      |base AS (SELECT doc_id,
      |  list_transform(shingles,
      |    s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS base
      |  FROM ok),
      |sig AS (SELECT doc_id,
      |  [list_min(list_transform(base,
      |     h -> (h * (((1103515245 * (k + 1)) % 2147483647) | 1)
      |           + ((1234567891 * (k + 7)) % 2147483647)) % 2147483647))
      |   for k in range(0, 16)] AS sig
      |  FROM base),
      |bands AS (SELECT doc_id, b AS band_no,
      |    CAST(sig[2*b + 1] AS VARCHAR) || '_' || CAST(sig[2*b + 2] AS VARCHAR) AS band
      |  FROM sig, range(0, 8) t(b))""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // q270: the arrival-order-free batch form of the streamed flag
    "q270_stream_fuzzy_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, substring(text, 1, 24) AS title
        |  FROM documents WHERE length(text) >= 24)
        |SELECT t.doc_id,
        |  EXISTS (SELECT 1 FROM t p
        |          WHERE p.doc_id < t.doc_id
        |            AND levenshtein(p.title, t.title) <= 2) AS is_fuzzy_dup
        |FROM t ORDER BY doc_id""".stripMargin,
    // q267: BRUTE-FORCE all-pairs levenshtein — deliberately not the
    // partition scheme, so the gate is also a completeness proof
    "q267_edit_distance_join" ->
      """WITH t0 AS (
        |  SELECT doc_id, substring(text, 1, 24) AS title
        |  FROM documents WHERE length(text) >= 24),
        |tp AS (
        |  SELECT doc_id + 3000000000 AS doc_id,
        |    substring(title, 1, 2) || 'z' || substring(title, 4, 11)
        |      || 'q' || substring(title, 16, 9) AS title
        |  FROM t0 WHERE doc_id % 7 = 0),
        |t AS (SELECT * FROM t0 UNION ALL SELECT * FROM tp)
        |SELECT a.doc_id AS a, b.doc_id AS b,
        |  CAST(levenshtein(a.title, b.title) AS BIGINT) AS dist
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.title, b.title) <= 2
        |ORDER BY a, b""".stripMargin,
    "q234_crosslang_dups" ->
      s"""WITH $PairsCtes
        |SELECT j.a, j.b, d1.lang AS lang_a, d2.lang AS lang_b,
        |  round(j.jac, 4) AS jaccard
        |FROM jaccard j
        |JOIN documents d1 ON d1.doc_id = j.a
        |JOIN documents d2 ON d2.doc_id = j.b
        |WHERE j.jac >= 0.3 AND d1.lang <> d2.lang
        |ORDER BY j.a, j.b""".stripMargin,
    // q300: the same arrival-order-free statistic as q201, plus the
    // exact per-doc vote count — the dup/loss detector for the
    // crash/replay run (8 bands per doc; a double-applied replay
    // doubles it, a lost batch removes its docs)
    "q300_stream_neardup_restart" ->
      s"""WITH $ShinglesCte,
        |$SignatureCte,
        |dup AS (SELECT DISTINCT y.doc_id
        |  FROM bands x JOIN bands y
        |    ON x.band_no = y.band_no AND x.band = y.band
        |   AND x.doc_id < y.doc_id),
        |nv AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_votes
        |  FROM bands GROUP BY doc_id)
        |SELECT nv.doc_id, (dup.doc_id IS NOT NULL) AS is_near_dup,
        |  nv.n_votes
        |FROM nv LEFT JOIN dup ON dup.doc_id = nv.doc_id
        |ORDER BY nv.doc_id""".stripMargin,
    "q201_stream_neardup" ->
      s"""WITH $ShinglesCte,
        |$SignatureCte,
        |dup AS (SELECT DISTINCT y.doc_id
        |  FROM bands x JOIN bands y
        |    ON x.band_no = y.band_no AND x.band = y.band
        |   AND x.doc_id < y.doc_id)
        |SELECT b.doc_id, (dup.doc_id IS NOT NULL) AS is_near_dup
        |FROM (SELECT DISTINCT doc_id FROM bands) b
        |LEFT JOIN dup ON dup.doc_id = b.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    "q159_stream_dedup" ->
      """SELECT DISTINCT user_id
        |FROM events
        |ORDER BY user_id""".stripMargin,
    "q182_stream_dedup_wm" ->
      """SELECT DISTINCT user_id
        |FROM events
        |ORDER BY user_id""".stripMargin,
    "q111_edit_distance" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part),
        |b AS (SELECT p_name, (regexp_split_to_array(p_name, ' '))[-1] AS noun
        |      FROM n)
        |SELECT x.p_name AS name_a, y.p_name AS name_b,
        |  CAST(levenshtein(x.p_name, y.p_name) AS INT) AS dist
        |FROM b x JOIN b y ON x.noun = y.noun AND x.p_name < y.p_name
        |WHERE levenshtein(x.p_name, y.p_name) <= 3
        |ORDER BY name_a, name_b""".stripMargin,
    // brute-force all pairs — banding above must lose nothing
    "q64_simhash_neardup" ->
      """WITH h AS (SELECT doc_id,
        |  list_transform(list_distinct(regexp_split_to_array(text, '\s+')),
        |    w -> ('0x' || substr(md5(w), 1, 15))::BIGINT) AS h
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |  CAST(list_sum([CASE WHEN 2 * len(list_filter(h, v -> ((v >> j) & 1) = 1)) >= len(h)
        |                 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END
        |            for j in range(0, 16)]) AS BIGINT) AS simhash
        |  FROM h)
        |SELECT CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hd,
        |  count(*) AS n_pairs
        |FROM sh x JOIN sh y ON x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
        |GROUP BY hd
        |ORDER BY hd""".stripMargin,
    "q26_dedup_exact" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents
        |GROUP BY 1
        |ORDER BY keep_id""".stripMargin,
    "q27_minhash_lsh" ->
      s"""WITH $ShinglesCte,
        |$SignatureCte
        |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |FROM bands x JOIN bands y
        |  ON x.band_no = y.band_no AND x.band = y.band AND x.doc_id < y.doc_id
        |ORDER BY a, b""".stripMargin,
    "q28_jaccard_pairs" ->
      s"""WITH $PairsCtes
        |SELECT a, b, round(jac, 4) AS jaccard
        |FROM jaccard
        |WHERE jac >= 0.5
        |ORDER BY a, b""".stripMargin,
    "q213_containment" ->
      s"""WITH $PairsCtes
        |SELECT a, b, za, zb,
        |  round(CAST(common AS DOUBLE) / least(za, zb), 4) AS containment,
        |  CASE WHEN za < zb THEN 'a_in_b'
        |       WHEN zb < za THEN 'b_in_a'
        |       ELSE 'equal_size' END AS direction
        |FROM jaccard
        |WHERE CAST(common AS DOUBLE) / least(za, zb) >= 0.6
        |ORDER BY a, b""".stripMargin,
    "q214_minhash_calibration" ->
      s"""WITH $PairsCtes,
        |pe AS (
        |  SELECT j.jac,
        |    CAST(len(list_filter(range(1, 17),
        |      k -> sa.sig[k] = sb.sig[k])) AS BIGINT) AS agree
        |  FROM jaccard j
        |  JOIN sig sa ON sa.doc_id = j.a
        |  JOIN sig sb ON sb.doc_id = j.b)
        |SELECT CAST(floor(jac * 5) AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  round(CAST(sum(agree) AS DOUBLE)
        |        / (CAST(count(*) AS DOUBLE) * 16), 4) AS mean_est,
        |  round(CAST(sum(CAST(floor(jac * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
        |        / (CAST(count(*) AS DOUBLE) * 1000000), 4) AS mean_jac,
        |  round(CAST(sum(CAST(floor(abs(CAST(agree AS DOUBLE) / 16 - jac)
        |                            * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
        |        / (CAST(count(*) AS DOUBLE) * 1000000), 4) AS mean_abs_err
        |FROM pe GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q57_minhash_agg" ->
      """WITH ws AS (SELECT lang, regexp_split_to_array(text, '\s+') AS ws FROM documents),
        |sh AS (SELECT lang,
        |  CASE WHEN len(ws) >= 3
        |    THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |                        for i in range(1, len(ws) - 1)])
        |    ELSE [] END AS shingles
        |  FROM ws),
        |hx AS (SELECT lang,
        |    ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 AS h
        |  FROM sh, UNNEST(shingles) AS u(s))
        |SELECT lang, k,
        |  min((h * (((1103515245 * (k + 1)) % 2147483647) | 1)
        |       + ((1234567891 * (k + 7)) % 2147483647)) % 2147483647) AS minhash
        |FROM hx, range(0, 16) t(k)
        |GROUP BY lang, k
        |ORDER BY lang, k""".stripMargin,
    "q29_simhash" ->
      """WITH h AS (SELECT doc_id,
        |  list_transform(list_distinct(regexp_split_to_array(text, '\s+')),
        |    w -> ('0x' || substr(md5(w), 1, 15))::BIGINT) AS h
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(list_sum([CASE WHEN 2 * len(list_filter(h, v -> ((v >> j) & 1) = 1)) >= len(h)
        |                 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END
        |            for j in range(0, 16)]) AS BIGINT) AS simhash
        |FROM h
        |ORDER BY doc_id""".stripMargin,
  )
}
