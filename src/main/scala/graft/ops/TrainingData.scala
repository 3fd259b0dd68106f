package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Memo
import graft.util.Tables._

/** End-to-end training-data pipeline compositions — the north-star
  * operators chained the way a corpus build actually runs them, still
  * fully DuckDB-oracle-checked because every stage is deterministic.
  *
  * Scale shape: the mix pipeline is filter → window-dedup on a 16-byte
  * fingerprint → anti-join against the (tiny) verified near-dup pair
  * set → hash-bucket split → group agg; nothing shuffles more than
  * once on the same key, and the near-dup set rides the LSH candidate
  * path (O(candidates), not O(n²)). Decontamination shuffles
  * (doc, gram-hash) pairs — 8-byte keys, corpus-size-independent per
  * doc — and broadcasts the eval side (eval sets are benchmarks:
  * thousands of docs, not billions).
  */
object TrainingData {

  /** Flagship composition: quality gate (q62's verdicts) → exact
    * dedup keep-min-id (q26) among survivors → drop verified near-dup
    * higher-ids (q28's pairs, corpus-wide) → reproducible 80/10/10
    * hash split (q71's bucketing, salted with "split|") → per
    * (lang, split) document and token counts.
    */
  def trainingMix(s: SparkSession, d: String): DataFrame = {
    val toks = split(col("text"), "\\s+")
    val nTok = size(toks)
    val nStop = size(filter(toks, t => t === "the" || t === "a"))
    val quality = documents(s, d)
      .withColumn("n_tokens", nTok.cast("long"))
      .filter(nTok >= 5 && col("n_chars") <= 20000 && !(nStop * 20 < nTok))
    val exactKept = quality
      .withColumn("keep_id", min(col("doc_id")).over(Window.partitionBy(md5(col("text")))))
      .filter(col("doc_id") === col("keep_id")).drop("keep_id")
    val nearDupIds = Dedup.scoredPairs(s, d)
      .filter(col("jac") >= 0.5).select(col("b").as("dup_id")).distinct()
    val bucket = pmod(conv(substring(md5(concat(lit("split|"),
      col("doc_id"))), 1, 15), 16, 10).cast("long"), lit(100))
    exactKept
      .join(nearDupIds, col("doc_id") === col("dup_id"), "left_anti")
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
      .orderBy(col("lang"), col("split"))
  }

  /** md5 first-15-hex-digits as a non-negative 60-bit long — the
    * portable cross-engine gram hash (no mod, unlike MinHash's base).
    */
  private def md5Hash60(digest: java.security.MessageDigest, s: String): Long = {
    val b = digest.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** (doc_id, distinct word-5-gram hash) pairs — typed mapPartitions
    * for the same reasons as Dedup.signatures (codegen'd md5 beats
    * interpreted HOF lambdas 10×).
    */
  private def gramHashes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val digest = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val ws = text.split("\\s+", -1)
          if (ws.length < 5) Iterator.empty
          else ws.sliding(5).map(_.mkString(" ")).toSet[String].iterator
            .map(g => (id, md5Hash60(digest, g)))
        }
      }
      .toDF("doc_id", "g")
  }

  /** Benchmark decontamination: eval set = doc_id ≡ 0 (mod 97)
    * (~1% stand-in benchmark). A training doc is contaminated when it
    * shares ANY distinct word-5-gram with any eval doc. Eval grams
    * broadcast; the verdict is a semi-join on the 8-byte gram hash.
    */
  /** Contaminated train-doc ids (q90's detection stage) as a
    * memo-CACHED frame shared by q90 and the q262 governance card —
    * the gram-hash sweep runs once per (session, sf dir).
    */
  private val contamCache = new Memo[(SparkSession, String), DataFrame]
  private[graft] def contaminatedIds(s: SparkSession, d: String): DataFrame =
    contamCache((s, d))(graft.util.CacheRegistry.register {
      val grams = gramHashes(s, d)
      val evalGrams = grams.filter(col("doc_id") % 97 === 0)
        .select(col("g")).distinct()
      grams.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(evalGrams), Seq("g"), "left_semi")
        .select(col("doc_id").as("cid")).distinct()
        .cache()
    })

  def decontaminate(s: SparkSession, d: String): DataFrame = {
    val contaminated = contaminatedIds(s, d)
    documents(s, d).filter(col("doc_id") % 97 =!= 0)
      .join(contaminated, col("doc_id") === col("cid"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_train"), count(col("cid")).as("n_contaminated"))
      .orderBy(col("lang"))
  }

  /** Near-dup decontamination (q157): q90 catches exact k-gram overlap
    * between train and eval; this op catches the FUZZY leakage exact
    * grams miss — train documents that are MinHash-LSH near-duplicates
    * (exact shingle-Jaccard ≥ 0.5 on LSH candidates, the q27/q28
    * composition) of any document in the held-out eval split
    * (doc_id % 5 = 0, a 20 % holdout). Output per language: train-doc
    * count, flagged count, flagged share — the drop-list audit a
    * corpus build runs before training.
    *
    * Scale shape: inherits q28's — banding shuffles (doc_id, band)
    * pairs, exact verification touches only LSH candidates, and the
    * final rollup is a broadcast-joinable flag set (flagged docs are
    * a vanishing fraction of the corpus). Never train × eval.
    */
  def nearDupDecontaminate(s: SparkSession, d: String): DataFrame = {
    val flagged = Dedup.scoredPairs(s, d)
      .filter(col("jac") >= 0.5 &&
        ((col("a") % 5 === 0) =!= (col("b") % 5 === 0)))
      .select(when(col("a") % 5 === 0, col("b")).otherwise(col("a")).as("tid"))
      .distinct()
    documents(s, d).filter(col("doc_id") % 5 =!= 0)
      .join(flagged, col("doc_id") === col("tid"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_train"), count(col("tid")).as("n_flagged"))
      .select(col("lang"), col("n_train"), col("n_flagged"),
        round(col("n_flagged").cast("double") / col("n_train"), 4)
          .as("flagged_share"))
      .orderBy(col("lang"))
  }

  /** Source token-budget water-filling (q162): given a token budget
    * B = ⌊corpus/2⌋, find the per-source cap t with
    * Σ_s min(n_s, t) ≤ B maximal — the classic water-fill that caps
    * over-represented sources while leaving small ones whole, i.e.
    * the allocation step a corpus build runs before q89/q149 mixing.
    * Closed form over the sorted source histogram: with sources
    * ascending, need_i = P_{i−1} + (S−i+1)·n_i is nondecreasing, so
    * the uncapped set is the prefix where need ≤ B, and
    * t = (B − P_k) div (S − k). All-integer arithmetic end to end.
    *
    * Scale shape: one corpus rollup to |sources| rows, then windows
    * and 1-row scalar broadcasts over that CATALOG-sized table — the
    * single-partition window and broadcast scalars are over ≤ dozens
    * of rows by construction (PlanAudit-whitelisted like q139/q149).
    */
  def budgetWaterfill(s: SparkSession, d: String): DataFrame =
    budgetWaterfillOn(documents(s, d))

  private[graft] def budgetWaterfillOn(docs: DataFrame): DataFrame = {
    val src = docs
      .groupBy(col("source"))
      .agg(sum(size(split(col("text"), "\\s+")).cast("long")).as("n"))
    val w = Window.orderBy(col("n"), col("source"))
    val o = src
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("p", sum(col("n")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = src.agg(sum(col("n")).as("tot"), count(lit(1)).as("s"))
    val c = o.crossJoin(broadcast(tot))
      .withColumn("budget", expr("tot div 2"))
      .withColumn("need",
        col("p") - col("n") + (col("s") - col("i") + 1) * col("n"))
    val k = c.filter(col("need") <= col("budget"))
      .agg(count(lit(1)).as("k"), coalesce(max(col("p")), lit(0L)).as("pk"))
    val cap = broadcast(tot).crossJoin(broadcast(k))
      .select(expr("(tot div 2 - pk) div (s - k)").as("cap"))
    c.crossJoin(broadcast(cap))
      .select(col("source"), col("n").as("n_tokens"),
        least(col("n"), col("cap")).as("allocated"),
        (col("n") > col("cap")).as("capped"))
      .orderBy(col("source"))
  }

  /** Length-bucketed batching audit (q158): the padding-waste
    * accounting behind dynamic batching. Documents bucket by token
    * length (fixed width-64 caps — integer arithmetic, so both
    * engines agree exactly, unlike a float log2 pow-of-two cap), each
    * bucket batches `batch` docs padded to the bucket cap; output per
    * bucket: doc/batch counts, real vs padded token totals and the
    * waste share — the number that decides bucket boundaries for a
    * training run.
    *
    * Scale shape: one narrow projection → one map-side-combinable
    * rollup on ≤ (max_len/64) keys. Nothing else — deliberately the
    * cheapest query in the registry per input row.
    */
  def lengthBuckets(s: SparkSession, d: String, width: Int = 64,
      batch: Int = 32): DataFrame =
    lengthBucketsOn(documents(s, d), width, batch)

  private[graft] def lengthBucketsOn(docs: DataFrame, width: Int,
      batch: Int): DataFrame =
    docs
      .select(size(split(col("text"), "\\s+")).cast("long").as("n"))
      .withColumn("cap", expr(s"((n - 1) div $width + 1) * $width"))
      .groupBy(col("cap"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("sum_tokens"))
      .select(col("cap").as("bucket_cap"), col("n_docs"),
        expr(s"(n_docs + ${batch - 1}) div $batch").as("n_batches"),
        col("sum_tokens"),
        (col("n_docs") * col("cap")).as("padded_tokens"),
        round((col("n_docs") * col("cap") - col("sum_tokens")).cast("double")
          / (col("n_docs") * col("cap")), 4).as("waste_share"))
      .orderBy(col("bucket_cap"))

  /** Sequence packing for a fixed token budget: documents in doc_id
    * order stream into `budget`-token packs; a doc belongs to the pack
    * its STARTING token offset falls in (streaming packing — training
    * pipelines concatenate docs with EOS and slice fixed windows, so
    * the boundary doc straddles by design).
    *
    * The required exclusive prefix sum runs as a distributed two-pass
    * scan: range-partition + sort by doc_id, per-partition token
    * totals (one tiny row per partition to the driver), exclusive scan
    * of those totals broadcast back as partition offsets — the classic
    * parallel-scan decomposition. The naive
    * `sum() OVER (ORDER BY doc_id)` window collapses the corpus into
    * ONE task; this shape keeps every pass fully parallel and moves
    * O(partitions) rows through the driver.
    */
  def packSequences(s: SparkSession, d: String, budget: Long = 2048L): DataFrame = {
    import s.implicits._
    val ranged = documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tokens"))
      .repartitionByRange(col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .cache() // pins the (sampled) range bounds so both passes see one partitioning
    graft.util.CacheRegistry.register(ranged)
    val partSums = ranged
      .groupBy(spark_partition_id().as("pid"))
      .agg(sum(col("n_tokens")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nParts = ranged.rdd.getNumPartitions
    val offsets = new Array[Long](nParts)
    var acc = 0L
    (0 until nParts).foreach { i =>
      offsets(i) = acc; acc += partSums.getOrElse(i, 0L)
    }
    val bc = s.sparkContext.broadcast(offsets)
    ranged.as[(Long, Long)].mapPartitions { it =>
      var cum = bc.value(org.apache.spark.TaskContext.getPartitionId())
      it.map { case (id, tok) =>
        val start = cum
        cum += tok
        (id, tok, start / budget)
      }
    }.toDF("doc_id", "n_tokens", "pack_id")
      .orderBy(col("doc_id"))
  }

  /** Positional k-gram stream over a (doc_id, text) corpus: one row
    * per gram start, `(doc_id, pos, gh)` with `pos` the 1-based token
    * index and `gh` a 64-bit order-sensitive hash of the gram's token
    * sequence. The shuffled payload downstream is the 8-byte hash,
    * never the gram string (~300 bytes at k=50 — 40× narrower
    * exchanges; 2^-64 collisions only ever merge two runs).
    *
    * Typed mapPartitions, not `transform(sequence, i -> xxhash64(
    * concat_ws(slice ...)))`: higher-order lambdas run INTERPRETED
    * inside Generate and re-materialize the gram string per position —
    * the same trap Dedup.signatures documents. The compiled loop
    * hashes each token once (FNV-1a 64 over UTF-8) and combines k
    * token hashes polynomially per start — no per-gram string, no
    * interpreter. Measured on q124 at sf0.1: 2.3 s → this form (the
    * HOF plan evaluated the lambda twice, once per consumer branch).
    */
  /** posGrams output memoized per (docs, k) and cache()d: q124, q125
    * and q128 all start from the same corpus-wide token-hash pass, and
    * each consumes it twice (duplicate detection + the semi-join back)
    * — six recomputes without the memo, one with. mapPartitions
    * closures defeat Spark's canonical-plan cache sharing (each lambda
    * instance canonicalizes differently), so the sharing must happen
    * at this layer, like the Tables catalog.
    */
  private val posGramsMemo = new Memo[(DataFrame, Int), DataFrame]

  private def posGrams(docs: DataFrame, k: Int): DataFrame =
    posGramsMemo((docs, k))(
      graft.util.CacheRegistry.register(posGramsUncached(docs, k).cache()))

  private def posGramsUncached(docs: DataFrame, k: Int): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val ws = text.split("\\s+", -1)
          if (ws.length < k) Iterator.empty
          else {
            val th = new Array[Long](ws.length)
            var i = 0
            while (i < ws.length) { th(i) = fnv64(ws(i)); i += 1 }
            (0 to ws.length - k).iterator.map { p =>
              var h = 0L
              var j = p
              while (j < p + k) { h = h * 6364136223846793005L + th(j); j += 1 }
              (id, (p + 1).toLong, h)
            }
          }
        }
      }
      .toDF("doc_id", "pos", "gh")
  }

  /** FNV-1a 64 over the token's UTF-8 bytes (public-domain constants). */
  private def fnv64(s: String): Long = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= bytes(i) & 0xffL
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Substring-level exact dedup, detection pass (Lee-et-al-style
    * "Deduplicating Training Data" at k-token granularity): maximal
    * runs of k-gram starts whose gram text occurs in ≥ 2 distinct
    * documents — i.e. every ≥ k-token substring shared across
    * documents, reported as (start_pos, end_pos, span) per document.
    *
    * Scale shape — no all-pairs stage anywhere: one (gh)-keyed
    * aggregation finds duplicated grams (8-byte keys), one semi-join
    * marks positions, one doc-keyed window folds consecutive
    * positions into maximal runs via the pos − row_number() grouping
    * identity. Every stage is a single keyed shuffle; task memory is
    * O(1) rows. This is the distributed stand-in for the suffix-array
    * pass — same output for cross-document repeats of length ≥ k.
    *
    * k defaults to 50 tokens (the production LLM-corpus threshold);
    * the registered query uses k=8 because the fixture documents are
    * 10-99 tokens long.
    */
  def substringRunsOn(docs: DataFrame, k: Int): DataFrame = {
    val g = posGrams(docs, k)
    val dup = g.groupBy(col("gh"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("gh"))
    g.join(dup, Seq("gh"), "left_semi")
      .withColumn("grp", col("pos") -
        row_number().over(Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("start_pos"), max(col("pos")).as("end_pos"),
        count(lit(1)).as("n_dup_grams"))
      .select(col("doc_id"), col("start_pos"), col("end_pos"), col("n_dup_grams"),
        (col("end_pos") - col("start_pos") + k).as("span_tokens"))
      .orderBy(col("doc_id"), col("start_pos"))
  }

  def substringRuns(s: SparkSession, d: String, k: Int = 50): DataFrame =
    substringRunsOn(documents(s, d), k)

  /** Substring-level exact dedup, removal pass: every duplicated gram
    * keeps exactly ONE canonical occurrence corpus-wide — the
    * lexicographically smallest (doc_id, pos) — and every other
    * occurrence's k-token span is dropped. Reported per document as
    * before/after token counts (the text rebuild is the same anti-join
    * on token index, see [[removeDupSpansOn]]).
    *
    * Owner election is `min(struct(doc_id, pos))` inside the same
    * (gh)-keyed aggregation that finds duplicates — no extra shuffle
    * over the detection pass; removed token indices union via
    * per-doc distinct.
    */
  def substringDedupOn(docs: DataFrame, k: Int): DataFrame = {
    val removedPerDoc = removedTokenIdx(docs, k)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_removed"))
    docs
      .select(col("doc_id"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tokens"))
      .join(removedPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        (col("n_tokens") - coalesce(col("n_removed"), lit(0L))).as("n_kept"))
      .orderBy(col("doc_id"))
  }

  def substringDedup(s: SparkSession, d: String, k: Int = 50): DataFrame =
    substringDedupOn(documents(s, d), k)

  /** Corpus duplication diagnostic: per language, how many tokens sit
    * inside a cross-document duplicated run (q124's definition) — the
    * number a corpus build reports before deciding how aggressively to
    * dedup. Distinct duplicated token indices per doc (overlapping
    * gram spans union, no double counting), one lang-keyed rollup.
    */
  def dupCoverage(s: SparkSession, d: String, k: Int = 50): DataFrame =
    dupCoverageOn(documents(s, d), k)

  def dupCoverageOn(docs: DataFrame, k: Int): DataFrame = {
    val g = posGrams(docs, k)
    val dup = g.groupBy(col("gh"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("gh"))
    val dupPerDoc = g.join(dup, Seq("gh"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("t"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
    docs
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tok"))
      .join(dupPerDoc, Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(coalesce(col("n_dup"), lit(0L))).as("n_dup_tokens"))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_dup_tokens"),
        round(col("n_dup_tokens").cast("double") / col("n_tokens"), 4).as("dup_frac"))
      .orderBy(col("lang"))
  }

  /** Distinct (doc_id, token index) pairs covered by a non-canonical
    * occurrence of a cross-document duplicated gram.
    */
  private def removedTokenIdx(docs: DataFrame, k: Int): DataFrame = {
    val g = posGrams(docs, k)
    val owner = g.groupBy(col("gh"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("own"),
        countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("gh"), col("own.doc_id").as("odoc"), col("own.pos").as("opos"))
    g.join(owner, Seq("gh"))
      .filter(!(col("doc_id") === col("odoc") && col("pos") === col("opos")))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("t"))
      .distinct()
  }

  /** Text rebuild after substring dedup: documents with the removed
    * spans stripped (tokens re-joined with single spaces). Spec-level
    * surface proving the planted duplicate disappears; the q125 gate
    * row is the count form above.
    */
  def removeDupSpansOn(docs: DataFrame, k: Int): DataFrame = {
    val toks = docs
      .select(col("doc_id"), posexplode(split(col("text"), "\\s+")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("t"), col("col").as("w"))
    toks.join(removedTokenIdx(docs, k), Seq("doc_id", "t"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(concat_ws(" ", array_sort(collect_list(struct(col("t"), col("w"))))
        .getField("w")).as("text"))
  }

  /** Gopher-style repetition signals per document: total word-2-gram
    * count, the most-frequent-2-gram fraction, the duplicated-2-gram
    * fraction, and the resulting repetitive verdict (top fraction
    * > 0.2) — the filters a corpus build applies before training.
    * One explode → two keyed aggregations on doc_id; nothing
    * corpus-wide.
    */
  def repetition(s: SparkSession, d: String): DataFrame = {
    val grams = documents(s, d)
      .withColumn("ws", split(col("text"), "\\s+"))
      .select(col("doc_id"), expr(
        """explode(CASE WHEN size(ws) >= 2
          |  THEN transform(sequence(1, size(ws) - 1),
          |    i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1)))
          |  ELSE array() END)""".stripMargin).as("g"))
    grams.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"),
        max(col("c")).as("top_cnt"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_grams"))
      .select(col("doc_id"), col("n_grams"),
        round(col("top_cnt").cast("double") / col("n_grams"), 4).as("top_2gram_frac"),
        round(col("dup_grams").cast("double") / col("n_grams"), 4).as("dup_2gram_frac"),
        (col("top_cnt").cast("double") / col("n_grams") > lit(0.2)).as("repetitive"))
      .orderBy(col("doc_id"))
  }

  /** Bigram-LM perplexity scoring — the classic model-based quality
    * filter: train an add-one-smoothed bigram language model ON the
    * corpus itself, score every document's average per-bigram negative
    * log-likelihood, and report (doc_id, n_bigrams, avg_nll). High
    * avg_nll = statistically unusual text (gibberish, boilerplate,
    * wrong-language shards) — the rows a corpus build cuts first.
    *
    * Determinism: each bigram's nll is quantized to integer
    * micro-nats — floor(-ln(p)·1e6 + 0.5) — BEFORE the per-doc sum,
    * so the aggregation is exact integer addition: order-free at any
    * core count, bit-identical in DuckDB. P(w2|w1) =
    * (c(w1,w2)+1)/(c(w1·)+V) where c(w1·) counts w1's bigram-left
    * occurrences and V is corpus vocabulary size — both exact
    * integers, so the double quotient (and hence ln) sees identical
    * IEEE inputs on both engines.
    *
    * Scale shape: one (w1,w2)-keyed count builds the model, its
    * w1-rollup gives the left-context counts WITHOUT a second token
    * pass, and scoring is one join of doc-bigrams against the model
    * on (w1,w2) — at 100 TB the model table is vocabulary-sized
    * (≪ corpus), AQE can broadcast it, and nothing corpus-wide ever
    * sits on the driver (V and the two model tables live as
    * DataFrames end to end).
    */
  def perplexity(s: SparkSession, d: String): DataFrame =
    perplexityOn(documents(s, d))

  private[graft] def perplexityOn(docs: DataFrame): DataFrame = {
    // bigram stream feeds the model build AND the per-doc scoring join;
    // cached so the tokenize+explode pass runs once per execution
    val bigrams = graft.util.CacheRegistry.register(docs
      .withColumn("ws", split(lower(col("text")), "\\s+"))
      .select(col("doc_id"), expr(
        """explode(CASE WHEN size(ws) >= 2
          |  THEN transform(sequence(1, size(ws) - 1),
          |    i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))
          |  ELSE array() END)""".stripMargin).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .cache())
    val model = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val left = model.groupBy(col("w1")).agg(sum(col("cb")).as("cl"))
    val vocab = docs
      .select(explode(split(lower(col("text")), "\\s+")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    bigrams
      .join(model, Seq("w1", "w2"))
      .join(left, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("nll_u",
        floor(-log((col("cb") + lit(1)).cast("double")
          / (col("cl") + col("v")).cast("double")) * lit(1e6) + lit(0.5)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll_u")).as("su"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("su").cast("double") / 1e6 / col("n_bigrams"), 4).as("avg_nll"))
      .orderBy(col("doc_id"))
  }

  /** DSIR-style importance weighting (Xie et al., "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by how target-like its hashed-unigram feature
    * distribution is. Target = the `en` shard (the stand-in for a
    * trusted corpus); features = token md5-hash buckets (B=256); the
    * per-bucket importance log-ratio is
    * ln((ct+1)/(Nt+B)) − ln((cr+1)/(Nr+B)) (add-one smoothing on both
    * the target and raw bucket distributions), and a document's score
    * is the sum of its tokens' bucket log-ratios. `selected` marks
    * score > 0 — more target-like than the raw average.
    *
    * Determinism: the q129 discipline — each bucket's log-ratio is
    * quantized to integer micro-nats once in the B-row model table,
    * so the per-doc aggregation is exact integer arithmetic
    * (count × ratio), order-free at any core count, bit-identical in
    * DuckDB (both engines feed `ln` identical IEEE quotients of exact
    * integers).
    *
    * Scale shape: both distribution tables are ≤ B rows built by
    * map-side-combinable counts; the model BROADCASTS onto per-doc
    * bucket counts (doc-keyed, width ≤ B per doc); one doc-keyed
    * rollup produces the scores. The only corpus-sized exchanges are
    * the two doc/bucket aggregations — nothing global, no sort, and
    * the driver never sees a corpus-sized row set. At 100 TB the
    * model build is a 256-row reduce and scoring is embarrassingly
    * parallel.
    */
  def importanceWeights(s: SparkSession, d: String, buckets: Int = 256): DataFrame =
    importanceWeightsOn(documents(s, d), buckets)

  private[graft] def importanceWeightsOn(docs: DataFrame, buckets: Int): DataFrame = {
    val toks = docs
      .select(col("doc_id"), col("lang"),
        explode(split(lower(col("text")), "\\s+")).as("w"))
      .select(col("doc_id"), col("lang"),
        pmod(conv(substring(md5(col("w")), 1, 15), 16, 10).cast("long"),
          lit(buckets.toLong)).as("b"))
    // ONE (bucket)-keyed pass builds both distributions, and the
    // corpus totals are exact integer sums OVER the 256-row bucket
    // table — the previous form re-ran the tokenize+explode scan four
    // times (target counts, raw counts, and both totals; guide §1.2).
    // Identical integers feed the same `ln` quotients: a bucket with
    // no target tokens counts ct=0 exactly where the old left join
    // yielded NULL→0, and nt/nr are the same token totals.
    val bl = toks.groupBy(col("b")).agg(
      count(lit(1)).as("cr"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
    val tot = bl.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    val model = bl.crossJoin(broadcast(tot))
      .select(col("b"),
        floor((log((col("ct") + 1).cast("double")
            / (col("nt") + lit(buckets.toLong)).cast("double"))
          - log((col("cr") + 1).cast("double")
            / (col("nr") + lit(buckets.toLong)).cast("double")))
          * lit(1e6) + lit(0.5)).as("lr_u"))
    toks.groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .join(broadcast(model), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * col("lr_u")).as("score_u"))
      .select(col("doc_id"), col("n_tokens"), col("score_u"),
        (col("score_u") > 0).cast("long").as("selected"))
      .orderBy(col("doc_id"))
  }

  /** Temperature-based mixture reweighting (the multilingual-corpus
    * sampling rule, p_l ∝ n_l^α with α = 0.5): per language, document
    * and token counts, the natural token share, the temperature-
    * flattened sampling share, and the token budget each language
    * receives in a 1M-token epoch — the table a corpus build publishes
    * to justify its language mix (α < 1 up-samples low-resource
    * shards).
    *
    * Determinism: sqrt(n_l) is quantized to integer micro-units
    * (floor(√n·1e6 + 0.5)) per language BEFORE the total, so every
    * share and budget derives from exact integer sums — no
    * float-accumulation order anywhere (the q129/q147 micro-nat
    * discipline).
    *
    * Scale shape: ONE lang-keyed map-side-combinable rollup
    * (|langs| rows), a 1-row total broadcast back over it; epoch
    * budgets are exact integer products/divisions of the micro-unit
    * weights.
    */
  def temperatureMix(s: SparkSession, d: String, epochTokens: Long = 1000000L): DataFrame = {
    val perLang = documents(s, d)
      .select(col("lang"),
        size(split(col("text"), "\\s+")).cast("long").as("nt"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      .withColumn("w_u",
        floor(sqrt(col("n_tokens").cast("double")) * lit(1e6) + lit(0.5)).cast("long"))
    val totals = perLang.agg(sum(col("n_tokens")).as("tot_tokens"),
      sum(col("w_u")).as("tot_w"))
    perLang.crossJoin(broadcast(totals))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("tot_tokens"), 4).as("nat_share"),
        round(col("w_u").cast("double") / col("tot_w"), 4).as("temp_share"),
        expr(s"(w_u * ${epochTokens}L) div tot_w").as("epoch_tokens"))
      .orderBy(col("lang"))
  }

  /** Distributed BPE merge training — the first `iters` merges of a
    * byte-pair-encoding tokenizer learned from the corpus, the way
    * production subword trainers factorize it: the corpus is touched
    * ONCE (a word-histogram aggregation); every merge iteration then
    * runs on the vocabulary table alone, because a pair's corpus
    * frequency is Σ word_count × occurrences-in-word. Output:
    * (iter, pair, merged, pair_count) — the learned merge table.
    *
    * Symbol strings are delimiter-framed (`|h||e||l||l||o|`, every
    * symbol wrapped in its own `|…|`): the pair pattern `|x||y|`
    * then rewrites left-to-right via plain string replace with
    * exactly BPE's greedy-left non-overlapping semantics
    * (`|a||a||a||a|` → `|aa||aa|`), identically in Spark and DuckDB.
    * Ties break (count DESC, pair ASC) so the trajectory is
    * deterministic on both engines.
    *
    * Scale shape: one corpus-wide word shuffle; after that every
    * stage is |vocab|-sized (pair explode ≤ word length per row, one
    * pair-keyed rollup per iteration, vocab rewrite is a narrow
    * projection). The driver holds ONE argmax row per iteration —
    * O(iters) control rows, the q122/q101 two-pass-scan pattern; the
    * merge table IS the algorithm's output, not materialized data.
    * Iterates are localCheckpoint()ed (the Pregel-superstep
    * truncation, as in ccStarOn/pageRank).
    */
  def bpeMerges(s: SparkSession, d: String, iters: Int = 5): DataFrame = {
    import s.implicits._
    learnedMerges(s, d, iters).toDF("iter", "pair", "merged", "pair_count")
      .orderBy(col("iter"))
  }

  /** The learned merge table, memoized per (session, sf dir, iters):
    * q151 (training) emits it and q156 (application) re-derives the
    * IDENTICAL trajectory before applying it — one training loop per
    * session instead of one per consumer (guide §1.2; the
    * scoredPairs/fusionRankings shared-stage convention). O(iters)
    * control rows, so the memo holds the algorithm's parameters, not
    * data.
    */
  private val mergesMemo = new Memo[
    (SparkSession, String, Int), Seq[(Long, String, String, Long)]]
  private def learnedMerges(s: SparkSession, d: String,
      iters: Int): Seq[(Long, String, String, Long)] =
    mergesMemo((s, d, iters))(bpeMergeSeq(documents(s, d), iters))

  private[graft] def bpeMergesOn(docs: DataFrame, iters: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    bpeMergeSeq(docs, iters).toDF("iter", "pair", "merged", "pair_count")
      .orderBy(col("iter"))
  }

  private def bpeMergeSeq(docs: DataFrame,
      iters: Int): Seq[(Long, String, String, Long)] = {
    val s = docs.sparkSession
    import s.implicits._
    var vocab = docs
      .select(explode(split(col("text"), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(regexp_replace(col("w"), "(.)", "|$1|").as("sym"), col("cnt"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var exhausted = false
    for (it <- 1 to iters if !exhausted) {
      val best = vocab
        .withColumn("a", split(expr("trim(BOTH '|' FROM sym)"), "\\|\\|"))
        .filter(size(col("a")) >= 2)
        .select(col("cnt"), explode(expr(
          """transform(sequence(0, size(a) - 2),
            |  i -> concat(element_at(a, i + 1), ' ', element_at(a, i + 2)))"""
            .stripMargin)).as("pair"))
        .groupBy(col("pair")).agg(sum(col("cnt")).as("n"))
        .orderBy(desc("n"), asc("pair")).limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val pair = best(0).getString(0)
        val n = best(0).getLong(1)
        val Array(x, y) = pair.split(" ", 2)
        merges += ((it.toLong, pair, x + y, n))
        vocab = vocab
          .select(replace(col("sym"), lit(s"|$x||$y|"), lit(s"|$x$y|")).as("sym"),
            col("cnt"))
          .localCheckpoint()
      }
    }
    merges.toSeq
  }

  /** BPE tokenizer APPLICATION (q156) — encode the corpus with the
    * q151-learned merge table and report the per-language compression:
    * word count, character count, post-merge token count, and
    * chars-per-token. This is the "how well does the tokenizer we just
    * trained actually compress each language" eval that follows
    * training, and it exercises the full train→apply cycle through one
    * driver-gated query.
    *
    * The merge table arrives as O(iters) driver control rows (the
    * documented q151 pattern); application is then a pure column
    * expression — frame each word, chain `iters` greedy-left replaces
    * — over a (lang, word)-histogram, so the corpus is touched once
    * for the histogram and every rewrite runs on vocabulary-sized
    * data. Token counts roll back up weighted by word frequency.
    *
    * The oracle unrolls the SAME training stages as q151 and applies
    * the learned pairs with the identical nested-replace chain, so a
    * trajectory divergence ANYWHERE (training or application) breaks
    * the hash. Assumes the corpus yields all `iters` merges (true for
    * the fixture tables — q151 emits 5 rows — and spec'd; an
    * exhausted trajectory would empty the oracle's cross joins).
    */
  def bpeApply(s: SparkSession, d: String, iters: Int = 5): DataFrame =
    // rides the session-shared learned merge table (see learnedMerges)
    applyMerges(documents(s, d),
      learnedMerges(s, d, iters).map(_._2))

  private[graft] def bpeApplyOn(docs: DataFrame, iters: Int): DataFrame =
    applyMerges(docs, bpeMergeSeq(docs, iters).map(_._2))

  private def applyMerges(docs: DataFrame, pairs: Seq[String]): DataFrame = {
    var sym: Column = regexp_replace(col("w"), "(.)", "|$1|")
    pairs.foreach { p =>
      val Array(x, y) = p.split(" ", 2)
      sym = replace(sym, lit(s"|$x||$y|"), lit(s"|$x$y|"))
    }
    docs
      .select(col("lang"), explode(split(col("text"), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("cnt"))
      .withColumn("sym", sym)
      // framed form carries 2 pipes per symbol: |ab||c| → 2 symbols
      .withColumn("n_syms",
        expr("(length(sym) - length(replace(sym, '|', ''))) div 2"))
      .groupBy(col("lang"))
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * length(col("w"))).as("n_chars"),
        sum(col("cnt") * col("n_syms")).as("n_tokens"))
      .select(col("lang"), col("n_words"), col("n_chars"), col("n_tokens"),
        round(col("n_chars").cast("double") / col("n_tokens"), 4)
          .as("chars_per_token"))
      .orderBy(col("lang"))
  }

  /** Deterministic multi-epoch global shuffle + shard assignment —
    * the "reshuffle the corpus every epoch" step of a training run,
    * with NO rand(): each (epoch, doc) gets a position key from
    * md5(epoch|doc_id) (the q71 hash-split discipline), so the order
    * is a fresh pseudo-random permutation per epoch yet bit-stable
    * across re-runs, preemption, and late-arriving re-computation.
    * Shard = pos mod `shards` — the file a data-parallel reader rank
    * would consume. Output per (epoch, shard): doc/token counts, the
    * position range, and a membership witness (sum of doc_ids) that
    * PROVES the epochs are genuinely different permutations while
    * each remains deterministic.
    *
    * Scale shape: an epochs× narrow projection (no data duplication
    * beyond the 3 small columns), ONE (epoch, shard)-keyed map-side-
    * combinable rollup; output is epochs×shards rows. Materializing
    * the actual order is repartitionByRange over (epoch, shard, pos)
    * + sortWithinPartitions(pos) — range-partition boundaries from
    * hash-uniform keys, never a global sort.
    */
  def epochShuffle(s: SparkSession, d: String, epochs: Int = 3,
      shards: Int = 8): DataFrame =
    epochShuffleOn(documents(s, d), epochs, shards)

  private[graft] def epochShuffleOn(docs: DataFrame, epochs: Int,
      shards: Int): DataFrame = {
    docs
      .select(col("doc_id"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tokens"),
        explode(sequence(lit(1), lit(epochs))).as("e"))
      .select(col("doc_id"), col("n_tokens"), col("e").cast("long").as("epoch"))
      .withColumn("pos", conv(substring(md5(concat_ws("|",
        col("epoch"), col("doc_id"))), 1, 15), 16, 10).cast("long"))
      .groupBy(col("epoch"), pmod(col("pos"), lit(shards)).cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        min(col("pos")).as("min_pos"), max(col("pos")).as("max_pos"),
        sum(col("doc_id")).as("sum_doc_ids"))
      .orderBy(col("epoch"), col("shard"))
  }

  /** Cross-source contamination matrix: for every pair of corpus
    * sources, how many distinct k-token grams they share, plus the
    * gram-set Jaccard — the "is source B just a scrape of source A"
    * diagnostic a corpus build runs before mixing. Same fnv64 gram
    * hashing as q124/q125 (oracle compares on gram STRINGS — the
    * documented collision-free-at-sf equivalence).
    *
    * Scale shape: (gram, source) distinct — one gh-keyed shuffle —
    * then a gh-keyed self-equi-join whose per-key fan-out is bounded
    * by |sources| (a catalog, not the corpus), one (src_a, src_b)
    * rollup, and a sources-sized totals table broadcast back for the
    * Jaccard. Never doc×doc, never corpus×corpus.
    */
  def sourceOverlap(s: SparkSession, d: String, k: Int = 8): DataFrame =
    sourceOverlapOn(documents(s, d), k)

  private[graft] def sourceOverlapOn(docs: DataFrame, k: Int): DataFrame = {
    // (gram, source) distinct set feeds THREE subtrees (per-source
    // counts + both self-join sides); cached so the gram hash +
    // distinct exchange runs once per execution (guide §1.2)
    val gs = graft.util.CacheRegistry.register(posGrams(docs, k)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("gh"), col("source")).distinct().cache())
    val per = gs.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val shared = gs.as("x")
      .join(gs.as("y"),
        col("x.gh") === col("y.gh") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("shared_grams"))
    shared
      .join(broadcast(per.select(col("source").as("src_a"), col("n").as("na"))), Seq("src_a"))
      .join(broadcast(per.select(col("source").as("src_b"), col("n").as("nb"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("shared_grams"),
        round(col("shared_grams").cast("double") /
          (col("na") + col("nb") - col("shared_grams")), 4).as("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** q190: k-fold cross-validation assignment audit — fold docs by
    * md5(doc_id) % 5 (the q71 hash-split discipline) and report, per
    * fold, the doc count, token total, and per-language composition
    * against the corpus share. The pre-training check that a fold
    * split didn't concentrate a language or length regime.
    *
    * All-integer counts; shares are single double divisions. One
    * map-side-combinable (fold, lang) rollup; everything after runs on
    * ≤ folds×langs rows.
    */
  def foldBalance(s: SparkSession, d: String, folds: Int = 5): DataFrame = {
    val fold = pmod(conv(substring(md5(concat(lit("fold|"),
      col("doc_id"))), 1, 15), 16, 10).cast("long"), lit(folds))
    val perFoldLang = documents(s, d)
      .select(fold.as("fold"), col("lang"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tokens"))
      .groupBy(col("fold"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    val perLang = perFoldLang.groupBy(col("lang"))
      .agg(sum(col("n_docs")).as("lang_docs"))
    val total = perFoldLang.agg(sum(col("n_docs")).as("all_docs"))
    perFoldLang
      .join(broadcast(perLang), Seq("lang"))
      .crossJoin(broadcast(total))
      .select(col("fold"), col("lang"), col("n_docs"), col("n_tokens"),
        round(col("n_docs").cast("double") / col("lang_docs").cast("double"),
          4).as("fold_share_of_lang"),
        round(col("lang_docs").cast("double") / col("all_docs").cast("double"),
          4).as("lang_share_of_corpus"))
      .orderBy(col("fold"), col("lang"))
  }

  /** q191: word2vec-style negative-sampling table — the top-20 words
    * by unigram^0.75 sampling mass. The ¾-power is computed as
    * sqrt(c·sqrt(c)): `sqrt` is IEEE-correctly-rounded on both
    * engines (unlike `pow`, which drifts ulps across libms), so the
    * weights are bit-identical. Each weight quantizes ONCE to integer
    * nano-units; the normalizing total is an exact decimal sum, so
    * probabilities are single double divisions of exact integers.
    *
    * Scale shape: one token-keyed count (map-side combinable), then
    * everything runs on the vocabulary-sized table; top-20 is
    * TakeOrderedAndProject.
    */
  def negSampling(s: SparkSession, d: String, topK: Int = 20): DataFrame = {
    val Dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val counts = documents(s, d)
      .select(explode(split(col("text"), "\\s+")).as("w"))
      .select(lower(col("w")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("c"))
      .withColumn("qw", floor(
        sqrt(col("c").cast("double") * sqrt(col("c").cast("double")))
          * 1e9 + lit(0.5)).cast("long"))
    val tot = counts.agg(sum(col("qw").cast(Dec)).as("qtot"))
    counts.crossJoin(broadcast(tot))
      .select(col("word"), col("c"),
        round(col("qw").cast("double") / col("qtot").cast("double"), 6)
          .as("p_sample"))
      .orderBy(col("p_sample").desc, col("word"))
      .limit(topK)
  }

  /** q197: boilerplate shingle density per source — the share of each
    * source's doc-distinct 8-gram shingles that recur in ≥ 3 distinct
    * documents (headers, footers, templates). The per-source signal
    * that says "this crawl is template soup" before it pollutes a
    * training mix; complements q153 (cross-source overlap) with a
    * WITHIN-corpus recurrence measure.
    *
    * Scale shape: the gram stream reduces to doc-distinct rows before
    * the gram-keyed doc-frequency rollup; both wide stages shuffle
    * (gram, ids) pairs bounded by distinct-gram counts, never raw
    * text. Integer counts; one double division per source.
    */
  def boilerplateDensity(s: SparkSession, d: String,
      k: Int = 8, minDocs: Long = 3L): DataFrame = {
    val ws = documents(s, d)
      .withColumn("ws", split(col("text"), "\\s+"))
      .filter(size(col("ws")) >= k)
    val grams = graft.util.CacheRegistry.register(
      ws.select(col("doc_id"), col("source"),
        explode(expr(s"transform(sequence(1, size(ws) - ${k - 1}), " +
          s"i -> concat_ws(' ', slice(ws, i, $k)))")).as("gram"))
        .distinct().cache())
    val dfreq = grams.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("df"))
    grams.join(dfreq, Seq("gram"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("df") >= minDocs, true)).as("n_boiler"))
      .select(col("source"), col("n_grams"), col("n_boiler"),
        round(col("n_boiler").cast("double") / col("n_grams").cast("double"),
          4).as("boiler_share"))
      .orderBy(col("source"))
  }

  /** q198: Jensen-Shannon divergence between every source pair's word
    * distributions — the symmetric, bounded (≤ ln 2) distributional
    * distance behind domain-mixing decisions (complements q192's PSI,
    * which is bucket-based and asymmetric-prone).
    *
    * Decomposition keeps it exact-deterministic: shared-word terms
    * p·ln(2p/(p+q)) + q·ln(2q/(p+q)) quantize to integer nano-nats
    * and sum exactly; words private to one source contribute
    * ln 2·(missing mass), computed from EXACT integer count sums and
    * the ln 2 double literal — so no variable-order float accumulation
    * anywhere.
    *
    * Scale shape: one (source, word)-keyed count, a word-keyed
    * pair join bounded by |sources|² fan-out per word, and a
    * pair-keyed rollup; totals broadcast.
    */
  def jsDivergence(s: SparkSession, d: String): DataFrame = {
    val Ln2 = 0.6931471805599453
    val wc = graft.util.CacheRegistry.register(
      documents(s, d)
        .select(col("source"), explode(split(col("text"), "\\s+")).as("w"))
        .select(col("source"), lower(col("w")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy(col("source"), col("word"))
        .agg(count(lit(1)).as("c")).cache())
    val tot = wc.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val pair = wc.select(col("source").as("src_a"), col("word"),
        col("c").as("ca"))
      .join(wc.select(col("source").as("src_b"), col("word"),
        col("c").as("cb")), Seq("word"))
      .filter(col("src_a") < col("src_b"))
      .join(broadcast(tot.select(col("source").as("src_a"),
        col("n").as("na"))), Seq("src_a"))
      .join(broadcast(tot.select(col("source").as("src_b"),
        col("n").as("nb"))), Seq("src_b"))
    val pa = col("ca").cast("double") / col("na").cast("double")
    val pb = col("cb").cast("double") / col("nb").cast("double")
    pair
      .withColumn("q", floor((pa * log(lit(2.0) * pa / (pa + pb))
        + pb * log(lit(2.0) * pb / (pa + pb))) * 1e9 + lit(0.5))
        .cast("long"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared_words"),
        sum(col("q")).as("qsum"),
        sum(col("ca")).as("sa"), sum(col("cb")).as("sb"),
        max(col("na")).as("na"), max(col("nb")).as("nb"))
      .select(col("src_a"), col("src_b"), col("n_shared_words"),
        round(lit(0.5) * (col("qsum").cast("double") / 1e9
          + lit(Ln2) * (col("na") - col("sa")).cast("double")
            / col("na").cast("double")
          + lit(Ln2) * (col("nb") - col("sb")).cast("double")
            / col("nb").cast("double")), 6).as("js_nats"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** q235: dedup impact report — the two-stage dedup pipeline (exact
    * fingerprint dedup, then greedy near-dup removal among the exact
    * survivors) accounted per language: docs and tokens going in,
    * dropped at each stage, and surviving. This is the shrinkage
    * dashboard every corpus build publishes before/after dedup.
    *
    * Policy: exact stage keeps the smallest doc_id per md5; the near
    * stage drops any SURVIVOR that has a smaller-id verified near-dup
    * (jac ≥ 0.5) among survivors — the greedy min-id rule (q53's
    * canonical convention; q228 implements the cluster-exact
    * alternative). Both stages are pure integer/hash decisions.
    *
    * Scale shape: exact stage is the q26 16-byte-fingerprint shuffle;
    * the near stage rides the shared scoredPairs candidates. The
    * report is a |langs|-keyed rollup.
    */
  /** Per-doc dedup verdicts (q235's marking stage, source kept) as a
    * memo-CACHED frame shared by q235 and the q262 governance card.
    * Rides the memoized Dedup.scoredPairs — the MinHash/shingle work
    * is computed once per (session, sf dir) across the whole family.
    */
  private val dedupMarksCache = new Memo[(SparkSession, String), DataFrame]
  private[graft] def dedupMarks(s: SparkSession, d: String): DataFrame =
    dedupMarksCache((s, d))(graft.util.CacheRegistry.register {
      val docs = documents(s, d).select(col("doc_id"), col("lang"), col("source"),
        md5(col("text")).as("fp"),
        size(split(col("text"), "\\s+")).cast("long").as("nt"))
      val keepExact = docs.groupBy(col("fp")).agg(min(col("doc_id")).as("keep"))
      val marked = docs.join(keepExact, Seq("fp"))
        .withColumn("exact_drop", col("doc_id") =!= col("keep"))
      val survivors = marked.filter(!col("exact_drop"))
        .select(col("doc_id"))
      val edges = Dedup.scoredPairs(s, d).filter(col("jac") >= 0.5)
        .select(col("a"), col("b"))
        .join(survivors.select(col("doc_id").as("a")), Seq("a"), "left_semi")
        .join(survivors.select(col("doc_id").as("b")), Seq("b"), "left_semi")
      val nearDrop = edges.select(col("b").as("doc_id")).distinct()
        .withColumn("near_drop", lit(true))
      marked.join(nearDrop, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"), col("source"), col("nt"),
          col("exact_drop"),
          (!col("exact_drop") && coalesce(col("near_drop"), lit(false)))
            .as("near_dropped"))
        .cache()
    })

  /** q271: systematic PPS (probability-proportional-to-size) document
    * sampling — k=50 draws with inclusion probability proportional to
    * token count, the sampling design a training-mix builder uses
    * when "sample documents uniformly" would under-weight long
    * documents' tokens. Fully deterministic: the systematic start is
    * the midpoint u = step/2 (no RNG — a seeded variant would pass u
    * in), the k sample points are u + m·step over the doc_id-ordered
    * token axis, and a document's multiplicity is the number of
    * points its cumulative-token interval covers — so Σ mult = k
    * exactly, and any document longer than `step` tokens is selected
    * with certainty (both spec-pinned). All integer arithmetic.
    *
    * Scale shape: the cumulative axis comes from the q101/q211
    * two-pass prefix scan — range partition on doc_id, per-partition
    * totals to the driver (O(partitions) control rows), exclusive
    * offsets broadcast back into a compiled per-partition pass —
    * never a single-partition window over the corpus. The oracle
    * spells the same interval-counting arithmetic over a window
    * cumsum.
    */
  def ppsSample(s: SparkSession, d: String, k: Long = 50L): DataFrame = {
    import s.implicits._
    val base = documents(s, d).select(col("doc_id"), col("lang"),
      col("source"),
      size(split(col("text"), "\\s+")).cast("long").as("nt"))
    val ranged = graft.util.CacheRegistry.register(
      base.repartitionByRange(col("doc_id"))
        .sortWithinPartitions(col("doc_id")).cache())
    val partSums = ranged.groupBy(spark_partition_id().as("pid"))
      .agg(sum(col("nt")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nParts = ranged.rdd.getNumPartitions
    val off = new Array[Long](nParts)
    var acc = 0L
    (0 until nParts).foreach { i =>
      off(i) = acc; acc += partSums.getOrElse(i, 0L)
    }
    val step = acc / k
    val u = step / 2
    require(step > 0, s"corpus has fewer tokens than k=$k")
    val bc = s.sparkContext.broadcast(off)
    val kk = k
    ranged.as[(Long, String, String, Long)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var c = bc.value(pid)
        def cnt(x: Long): Long =
          if (x < u) 0L else math.min(kk, (x - u) / step + 1)
        it.map { case (id, lang, source, nt) =>
          val c0 = c
          c += nt
          (id, lang, source, nt, cnt(c) - cnt(c0))
        }
      }
      .toDF("doc_id", "lang", "source", "n_tokens", "mult")
      .filter(col("mult") > 0)
      .orderBy(col("doc_id"))
  }

  /** q264: the RELEASE EXPORT — the materialization counterpart of
    * the q262 governance card: the documents that survive EVERY gate
    * (q62 quality verdict `keep`, q235 exact + near dedup, q90 eval
    * decontamination, eval split excluded), written out in the
    * release layout (one directory per lang, files sorted by doc_id)
    * and read back for the gate. This is the corpus build's final
    * verb: the other queries DIAGNOSE; this one SHIPS.
    *
    * Every filter reads the same memo-cached per-doc stage its
    * diagnostic query uses — the export can never disagree with the
    * card (Round8OpsSpec pins count equality per (lang, source)).
    *
    * Scale shape: three doc-keyed joins over cached stages (the
    * contaminated-id set anti-broadcasts), one repartition-by-lang
    * write — the single full shuffle a release write pays anyway to
    * get its layout; partition dirs and in-file ordering come free
    * with it.
    */
  def releaseExport(s: SparkSession, d: String): DataFrame = {
    val marks = dedupMarks(s, d)
    val quality = TextAnalysis.docQuality(s, d)
      .select(col("doc_id"), col("verdict"))
    val contam = contaminatedIds(s, d)
    val kept = marks.join(quality, Seq("doc_id"))
      .join(broadcast(contam), col("doc_id") === col("cid"), "left_anti")
      .filter(col("verdict") === "keep" && !col("exact_drop") &&
        !col("near_dropped") && col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), col("lang"), col("source"),
        col("nt").as("n_tokens"))
    val out = graft.util.TmpDirs.scratch("release-export")
    kept.repartition(col("lang")).sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").partitionBy("lang").parquet(out)
    s.read.parquet(out)
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  def dedupImpact(s: SparkSession, d: String): DataFrame = {
    dedupMarks(s, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("exact_drop"), 1L).otherwise(0L)).as("n_exact_dropped"),
        sum(when(col("near_dropped"), 1L).otherwise(0L)).as("n_near_dropped"),
        sum(col("nt")).as("tokens_total"),
        sum(when(!col("exact_drop") && !col("near_dropped"), col("nt"))
          .otherwise(0L)).as("tokens_kept"))
      .withColumn("n_final",
        col("n_docs") - col("n_exact_dropped") - col("n_near_dropped"))
      .orderBy(col("lang"))
  }

  /** q236: leakage-free grouped split — fold assignment where every
    * near-dup CLUSTER lands wholly in one fold: the group key is the
    * q51 cluster label for clustered docs (its min member id) and the
    * doc itself otherwise, and the fold is the q71 md5-bucket of the
    * group key. Splitting by raw doc hash leaks near-identical
    * train/test pairs (the q157 decontamination problem at split
    * time); hashing the GROUP key makes leakage structurally
    * impossible — the report recomputes distinct folds per cluster
    * and pins the maximum at 1.
    *
    * Scale shape: q51's clustering + one broadcast-joinable
    * (doc → cluster) map; fold assignment is a pure projection; the
    * report is a fold-keyed rollup.
    */
  def groupedSplit(s: SparkSession, d: String, folds: Int = 5): DataFrame = {
    val clusters = Clustering.dupClusters(s, d)
      .select(col("doc_id"), col("cluster_id"))
    val withGroup = documents(s, d).select(col("doc_id"), col("lang"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("group_key", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("fold", pmod(
        conv(substring(md5(col("group_key").cast("string")), 1, 15), 16, 10)
          .cast("long"), lit(folds)))
    val span = withGroup.filter(col("cluster_id").isNotNull)
      .groupBy(col("cluster_id"))
      .agg(countDistinct(col("fold")).as("nf"))
      .agg(coalesce(max(col("nf")), lit(0L)).as("max_folds_per_cluster"))
    withGroup.groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cluster_id").isNotNull, 1L).otherwise(0L))
          .as("n_clustered"),
        countDistinct(col("group_key")).as("n_groups"))
      .crossJoin(broadcast(span))
      .orderBy(col("fold"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q235_dedup_impact" -> dedupImpact _,
    "q264_release_export" -> releaseExport _,
    "q271_pps_sample" -> ((s: SparkSession, d: String) => ppsSample(s, d)),
    "q236_grouped_split" -> ((s: SparkSession, d: String) => groupedSplit(s, d)),
    "q197_boilerplate"  -> ((s: SparkSession, d: String) => boilerplateDensity(s, d)),
    "q198_js_divergence" -> jsDivergence _,
    "q190_fold_balance" -> ((s: SparkSession, d: String) => foldBalance(s, d)),
    "q191_neg_sampling" -> ((s: SparkSession, d: String) => negSampling(s, d)),
    "q129_perplexity"   -> perplexity _,
    "q151_bpe_merges"   -> ((s: SparkSession, d: String) => bpeMerges(s, d)),
    "q156_bpe_apply"    -> ((s: SparkSession, d: String) => bpeApply(s, d)),
    "q157_neardup_decon" -> nearDupDecontaminate _,
    "q158_length_buckets" -> ((s: SparkSession, d: String) => lengthBuckets(s, d)),
    "q162_budget_waterfill" -> budgetWaterfill _,
    "q152_epoch_shuffle"  -> ((s: SparkSession, d: String) => epochShuffle(s, d)),
    "q153_source_overlap" -> ((s: SparkSession, d: String) => sourceOverlap(s, d)),
    "q89_training_mix"  -> trainingMix _,
    "q90_decontaminate" -> decontaminate _,
    "q101_seq_packing"  -> ((s: SparkSession, d: String) => packSequences(s, d)),
    "q102_repetition"   -> repetition _,
    "q124_substring_runs"  -> ((s: SparkSession, d: String) => substringRuns(s, d, k = 8)),
    "q125_substring_dedup" -> ((s: SparkSession, d: String) => substringDedup(s, d, k = 8)),
    "q128_dup_coverage"    -> ((s: SparkSession, d: String) => dupCoverage(s, d, k = 8)),
    "q147_importance_weights" -> ((s: SparkSession, d: String) => importanceWeights(s, d)),
    "q149_temperature_mix" -> ((s: SparkSession, d: String) => temperatureMix(s, d)),
  )

  /** q151 oracle: the same BPE trajectory unrolled as `iters` CTE
    * stages (pair rollup → deterministic argmax → vocab rewrite per
    * stage) — pair counts CAST to BIGINT inside each stage so DuckDB's
    * HUGEINT widening never reaches the output (the q101/q113 lesson).
    */
  /** Shared WITH-prefix for the q151/q156 oracles: word histogram v0
    * plus `iters` unrolled training stages (pair rollup p_i →
    * deterministic argmax b_i → vocab rewrite v_i).
    */
  private def bpeStageCtes(iters: Int): String = {
    val stages = (1 to iters).map { i =>
      s"""p$i AS (
         |  SELECT u.pair, CAST(sum(u.cnt) AS BIGINT) AS n FROM (
         |    SELECT cnt,
         |      unnest([l[i] || ' ' || l[i+1] for i in range(1, len(l))]) AS pair
         |    FROM (SELECT string_split(trim(sym, '|'), '||') AS l, cnt
         |          FROM v${i - 1})) u
         |  GROUP BY 1),
         |b$i AS (SELECT pair, n FROM p$i ORDER BY n DESC, pair LIMIT 1),
         |v$i AS (
         |  SELECT replace(sym, '|' || replace(b$i.pair, ' ', '||') || '|',
         |                 '|' || replace(b$i.pair, ' ', '') || '|') AS sym, cnt
         |  FROM v${i - 1} CROSS JOIN b$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (
       |  SELECT unnest(regexp_split_to_array(text, '\\s+')) AS w FROM documents),
       |v0 AS (
       |  SELECT regexp_replace(w, '(.)', '|\\1|', 'g') AS sym, count(*) AS cnt
       |  FROM toks WHERE len(w) > 0 GROUP BY 1),
       |$stages""".stripMargin
  }

  private def bpeOracle(iters: Int): String = {
    val rows = (1 to iters).map { i =>
      s"SELECT CAST($i AS BIGINT) AS iter, pair, replace(pair, ' ', '') AS merged, n AS pair_count FROM b$i"
    }.mkString("\nUNION ALL ")
    s"""${bpeStageCtes(iters)}
       |$rows
       |ORDER BY iter""".stripMargin
  }

  /** q156 oracle: train via the shared stages, then apply b1..b_iters
    * to a (lang, word) histogram with the identical nested greedy-left
    * replace chain and roll token counts up per language.
    */
  private def bpeApplyOracle(iters: Int): String = {
    val chain = (1 to iters).foldLeft("regexp_replace(w, '(.)', '|\\1|', 'g')") {
      (acc, i) =>
        s"replace($acc, '|' || replace(b$i.pair, ' ', '||') || '|', " +
          s"'|' || replace(b$i.pair, ' ', '') || '|')"
    }
    val crosses = (1 to iters).map(i => s"CROSS JOIN b$i").mkString(" ")
    s"""${bpeStageCtes(iters)},
       |wh AS (
       |  SELECT lang, w, count(*) AS cnt FROM (
       |    SELECT lang, unnest(regexp_split_to_array(text, '\\s+')) AS w
       |    FROM documents)
       |  WHERE len(w) > 0 GROUP BY lang, w),
       |app AS (
       |  SELECT lang, cnt, len(w) AS wlen,
       |    $chain AS sym
       |  FROM wh $crosses),
       |t AS (
       |  SELECT lang, cnt, wlen,
       |    (len(sym) - len(replace(sym, '|', ''))) // 2 AS n_syms
       |  FROM app)
       |SELECT lang, n_words, n_chars, n_tokens,
       |  round(CAST(n_chars AS DOUBLE) / n_tokens, 4) AS chars_per_token
       |FROM (
       |  SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_words,
       |    CAST(sum(cnt * wlen) AS BIGINT) AS n_chars,
       |    CAST(sum(cnt * n_syms) AS BIGINT) AS n_tokens
       |  FROM t GROUP BY lang)
       |ORDER BY lang""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    // q271: the same interval-counting arithmetic over a window
    // cumsum (the oracle may single-partition; the engine must not)
    "q271_pps_sample" ->
      """WITH t AS (
        |  SELECT doc_id, lang, source,
        |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT *, sum(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ci
        |  FROM t),
        |p AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM t),
        |s AS (SELECT total // 50 AS step, (total // 50) // 2 AS u FROM p),
        |m AS (
        |  SELECT c.doc_id, c.lang, c.source, c.n_tokens,
        |    (CASE WHEN c.ci < s.u THEN 0
        |          ELSE least(50, (c.ci - s.u) // s.step + 1) END)
        |    - (CASE WHEN c.ci - c.n_tokens < s.u THEN 0
        |            ELSE least(50, (c.ci - c.n_tokens - s.u) // s.step + 1) END)
        |      AS mult
        |  FROM c CROSS JOIN s)
        |SELECT doc_id, lang, source, n_tokens, CAST(mult AS BIGINT) AS mult
        |FROM m WHERE mult > 0
        |ORDER BY doc_id""".stripMargin,
    // q264: the kept set under every gate — the governance CTE chain
    // (shared with q262's oracle) filtered to the survivors
    "q264_release_export" ->
      s"""WITH ${Audit.governancePerDocCtes}
        |SELECT f.doc_id, f.lang, f.source, f.nt AS n_tokens
        |FROM gfin f JOIN qv ON qv.doc_id = f.doc_id
        |WHERE qv.verdict = 'keep' AND NOT f.exact_drop
        |  AND NOT f.near_dropped AND f.doc_id % 97 <> 0
        |  AND f.doc_id NOT IN (SELECT doc_id FROM cids)
        |ORDER BY f.doc_id""".stripMargin,
    "q235_dedup_impact" ->
      s"""WITH ${Dedup.PairsCtes},
        |docs AS (SELECT doc_id, lang, md5(text) AS fp,
        |    CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS nt
        |  FROM documents),
        |ke AS (SELECT fp, min(doc_id) AS keep FROM docs GROUP BY 1),
        |m AS (SELECT docs.*, docs.doc_id <> ke.keep AS exact_drop
        |      FROM docs JOIN ke USING (fp)),
        |surv AS (SELECT doc_id FROM m WHERE NOT exact_drop),
        |ed AS (SELECT j.a, j.b FROM jaccard j
        |       WHERE j.jac >= 0.5
        |         AND j.a IN (SELECT doc_id FROM surv)
        |         AND j.b IN (SELECT doc_id FROM surv)),
        |nd AS (SELECT DISTINCT b AS doc_id FROM ed),
        |fin AS (SELECT m.lang, m.nt, m.exact_drop,
        |          (NOT m.exact_drop AND nd.doc_id IS NOT NULL) AS near_dropped
        |        FROM m LEFT JOIN nd ON nd.doc_id = m.doc_id)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN exact_drop THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_exact_dropped,
        |  CAST(sum(CASE WHEN near_dropped THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_near_dropped,
        |  CAST(sum(nt) AS BIGINT) AS tokens_total,
        |  CAST(sum(CASE WHEN NOT exact_drop AND NOT near_dropped
        |      THEN nt ELSE 0 END) AS BIGINT) AS tokens_kept,
        |  CAST(count(*)
        |    - sum(CASE WHEN exact_drop THEN 1 ELSE 0 END)
        |    - sum(CASE WHEN near_dropped THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_final
        |FROM fin GROUP BY lang ORDER BY lang""".stripMargin,
    "q236_grouped_split" ->
      s"""WITH RECURSIVE ${Dedup.PairsCtes},
        |jp AS (SELECT a, b FROM jaccard WHERE jac >= 0.5),
        |und AS (SELECT a AS u, b AS v FROM jp UNION ALL SELECT b, a FROM jp),
        |reach(id, r) AS (
        |  SELECT DISTINCT u, u FROM und
        |  UNION
        |  SELECT reach.id, und.v FROM reach JOIN und ON und.u = reach.r),
        |labeled AS (SELECT id AS doc_id, min(r) AS cluster_id
        |            FROM reach GROUP BY id),
        |wg AS (SELECT d.doc_id, d.lang, l.cluster_id,
        |         coalesce(l.cluster_id, d.doc_id) AS group_key
        |       FROM documents d LEFT JOIN labeled l ON l.doc_id = d.doc_id),
        |f AS (SELECT *,
        |        ('0x' || substr(md5(CAST(group_key AS VARCHAR)), 1, 15))::BIGINT
        |          % 5 AS fold
        |      FROM wg),
        |span AS (SELECT CAST(coalesce(max(nf), 0) AS BIGINT)
        |    AS max_folds_per_cluster
        |  FROM (SELECT cluster_id, count(DISTINCT fold) AS nf
        |        FROM f WHERE cluster_id IS NOT NULL GROUP BY 1))
        |SELECT fold, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN cluster_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_clustered,
        |  CAST(count(DISTINCT group_key) AS BIGINT) AS n_groups,
        |  span.max_folds_per_cluster
        |FROM f CROSS JOIN span
        |GROUP BY fold, span.max_folds_per_cluster
        |ORDER BY fold""".stripMargin,
    "q197_boilerplate" ->
      """WITH ws AS (
        |  SELECT doc_id, source, regexp_split_to_array(text, '\s+') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source,
        |    unnest([array_to_string(ws[i:i+7], ' ')
        |            for i in range(1, len(ws) - 6)]) AS gram
        |  FROM ws WHERE len(ws) >= 8),
        |gd AS (SELECT DISTINCT doc_id, source, gram FROM g),
        |df AS (SELECT gram, count(DISTINCT doc_id) AS df FROM gd GROUP BY 1)
        |SELECT gd.source, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(count(*) FILTER (WHERE df >= 3) AS BIGINT) AS n_boiler,
        |  round(CAST(count(*) FILTER (WHERE df >= 3) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 4) AS boiler_share
        |FROM gd JOIN df USING (gram)
        |GROUP BY 1 ORDER BY gd.source""".stripMargin,
    "q198_js_divergence" ->
      """WITH t AS (
        |  SELECT source,
        |    lower(unnest(regexp_split_to_array(text, '\s+'))) AS word
        |  FROM documents),
        |wc AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c
        |       FROM t WHERE len(word) > 0 GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
        |        FROM wc GROUP BY 1),
        |pr AS (
        |  SELECT a.source AS src_a, b.source AS src_b, a.word,
        |    a.c AS ca, b.c AS cb, ta.n AS na, tb.n AS nb
        |  FROM wc a JOIN wc b ON a.word = b.word AND a.source < b.source
        |  JOIN tot ta ON ta.source = a.source
        |  JOIN tot tb ON tb.source = b.source),
        |q AS (
        |  SELECT src_a, src_b, ca, cb, na, nb,
        |    CAST(floor(((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
        |        * ln(2.0 * (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
        |             / ((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
        |                + (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))))
        |      + (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
        |        * ln(2.0 * (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
        |             / ((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
        |                + (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)))))
        |      * 1e9 + 0.5) AS BIGINT) AS q
        |  FROM pr)
        |SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_shared_words,
        |  round(0.5 * (CAST(sum(q) AS DOUBLE) / 1e9
        |    + 0.6931471805599453
        |      * CAST(max(na) - sum(ca) AS DOUBLE) / CAST(max(na) AS DOUBLE)
        |    + 0.6931471805599453
        |      * CAST(max(nb) - sum(cb) AS DOUBLE) / CAST(max(nb) AS DOUBLE)),
        |    6) AS js_nats
        |FROM q GROUP BY 1, 2
        |ORDER BY src_a, src_b""".stripMargin,
    "q190_fold_balance" ->
      """WITH f AS (
        |  SELECT ('0x' || substr(md5('fold|' || CAST(doc_id AS VARCHAR)),
        |           1, 15))::BIGINT % 5 AS fold,
        |    lang,
        |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |pfl AS (
        |  SELECT fold, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |  FROM f GROUP BY 1, 2),
        |pl AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS lang_docs
        |       FROM pfl GROUP BY 1),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS all_docs FROM pfl)
        |SELECT fold, pfl.lang, n_docs, n_tokens,
        |  round(CAST(n_docs AS DOUBLE) / CAST(lang_docs AS DOUBLE), 4)
        |    AS fold_share_of_lang,
        |  round(CAST(lang_docs AS DOUBLE) / CAST(all_docs AS DOUBLE), 4)
        |    AS lang_share_of_corpus
        |FROM pfl JOIN pl ON pfl.lang = pl.lang CROSS JOIN t
        |ORDER BY fold, pfl.lang""".stripMargin,
    "q191_neg_sampling" ->
      """WITH t AS (
        |  SELECT lower(unnest(regexp_split_to_array(text, '\s+'))) AS word
        |  FROM documents),
        |c AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM t
        |      WHERE len(word) > 0 GROUP BY 1),
        |q AS (
        |  SELECT word, c,
        |    CAST(floor(sqrt(CAST(c AS DOUBLE) * sqrt(CAST(c AS DOUBLE)))
        |      * 1e9 + 0.5) AS BIGINT) AS qw
        |  FROM c),
        |tot AS (SELECT sum(CAST(qw AS DECIMAL(38,0))) AS qtot FROM q)
        |SELECT word, c,
        |  round(CAST(qw AS DOUBLE) / CAST(qtot AS DOUBLE), 6) AS p_sample
        |FROM q CROSS JOIN tot
        |ORDER BY p_sample DESC, word
        |LIMIT 20""".stripMargin,
    "q151_bpe_merges" -> bpeOracle(5),
    "q156_bpe_apply" -> bpeApplyOracle(5),
    "q162_budget_waterfill" ->
      """WITH src AS (
        |  SELECT source,
        |    CAST(sum(len(regexp_split_to_array(text, '\s+'))) AS BIGINT) AS n
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot, count(*) AS s FROM src),
        |o AS (
        |  SELECT source, n,
        |    CAST(row_number() OVER (ORDER BY n, source) AS BIGINT) AS i,
        |    CAST(sum(n) OVER (ORDER BY n, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p
        |  FROM src),
        |c AS (
        |  SELECT o.*, tot.tot // 2 AS budget,
        |    (p - n) + (tot.s - i + 1) * n AS need
        |  FROM o CROSS JOIN tot),
        |k AS (
        |  SELECT count(*) AS k, coalesce(CAST(max(p) AS BIGINT), 0) AS pk
        |  FROM c WHERE need <= budget),
        |cap AS (
        |  SELECT (tot.tot // 2 - k.pk) // (tot.s - k.k) AS cap
        |  FROM tot CROSS JOIN k)
        |SELECT source, n AS n_tokens,
        |  CAST(least(n, cap.cap) AS BIGINT) AS allocated,
        |  n > cap.cap AS capped
        |FROM c CROSS JOIN cap
        |ORDER BY source""".stripMargin,
    "q158_length_buckets" ->
      """WITH d AS (
        |  SELECT CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n
        |  FROM documents),
        |b AS (SELECT ((n - 1) // 64 + 1) * 64 AS cap, n FROM d)
        |SELECT cap AS bucket_cap, count(*) AS n_docs,
        |  (count(*) + 31) // 32 AS n_batches,
        |  CAST(sum(n) AS BIGINT) AS sum_tokens,
        |  count(*) * cap AS padded_tokens,
        |  round(CAST(count(*) * cap - sum(n) AS DOUBLE) / (count(*) * cap), 4)
        |    AS waste_share
        |FROM b GROUP BY cap
        |ORDER BY bucket_cap""".stripMargin,
    "q157_neardup_decon" ->
      s"""WITH ${Dedup.PairsCtes},
         |xp AS (
         |  SELECT DISTINCT CASE WHEN a % 5 = 0 THEN b ELSE a END AS tid
         |  FROM jaccard
         |  WHERE jac >= 0.5 AND ((a % 5 = 0) <> (b % 5 = 0)))
         |SELECT lang, count(*) AS n_train, count(tid) AS n_flagged,
         |  round(CAST(count(tid) AS DOUBLE) / count(*), 4) AS flagged_share
         |FROM documents dd LEFT JOIN xp ON dd.doc_id = xp.tid
         |WHERE dd.doc_id % 5 <> 0
         |GROUP BY lang
         |ORDER BY lang""".stripMargin,
    "q152_epoch_shuffle" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |e AS (SELECT doc_id, n_tokens, unnest(range(1, 4)) AS epoch FROM d),
        |h AS (
        |  SELECT epoch, doc_id, n_tokens,
        |    ('0x' || substr(md5(CAST(epoch AS VARCHAR) || '|' ||
        |       CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS pos
        |  FROM e)
        |SELECT epoch, pos % 8 AS shard, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  min(pos) AS min_pos, max(pos) AS max_pos,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_ids
        |FROM h GROUP BY epoch, shard
        |ORDER BY epoch, shard""".stripMargin,
    "q153_source_overlap" ->
      """WITH ws AS (
        |  SELECT doc_id, source, regexp_split_to_array(text, '\s+') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT source,
        |    unnest([array_to_string(ws[i:i+7], ' ')
        |            for i in range(1, len(ws) - 6)]) AS gram
        |  FROM ws WHERE len(ws) >= 8),
        |gs AS (SELECT DISTINCT source, gram FROM g),
        |per AS (SELECT source, count(*) AS n FROM gs GROUP BY source),
        |sh AS (
        |  SELECT x.source AS src_a, y.source AS src_b, count(*) AS shared_grams
        |  FROM gs x JOIN gs y ON x.gram = y.gram AND x.source < y.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, shared_grams,
        |  round(CAST(shared_grams AS DOUBLE) /
        |    (pa.n + pb.n - shared_grams), 4) AS jaccard
        |FROM sh
        |JOIN per pa ON pa.source = sh.src_a
        |JOIN per pb ON pb.source = sh.src_b
        |ORDER BY src_a, src_b""".stripMargin,
    "q149_temperature_mix" ->
      """WITH per AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(len(regexp_split_to_array(text, '\s+'))) AS BIGINT)
        |      AS n_tokens
        |  FROM documents GROUP BY lang),
        |w AS (
        |  SELECT lang, n_docs, n_tokens,
        |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
        |      AS w_u
        |  FROM per),
        |tot AS (
        |  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
        |    CAST(sum(w_u) AS BIGINT) AS tot_w
        |  FROM w)
        |SELECT lang, n_docs, n_tokens,
        |  round(CAST(n_tokens AS DOUBLE) / tot_tokens, 4) AS nat_share,
        |  round(CAST(w_u AS DOUBLE) / tot_w, 4) AS temp_share,
        |  (w_u * 1000000) // tot_w AS epoch_tokens
        |FROM w CROSS JOIN tot
        |ORDER BY lang""".stripMargin,
    "q147_importance_weights" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    unnest(regexp_split_to_array(lower(text), '\s+')) AS w
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5(w), 1, 15))::BIGINT % 256 AS b
        |  FROM toks),
        |tc AS (SELECT b, count(*) AS ct FROM b WHERE lang = 'en' GROUP BY 1),
        |rc AS (SELECT b, count(*) AS cr FROM b GROUP BY 1),
        |nt AS (SELECT count(*) AS nt FROM b WHERE lang = 'en'),
        |nr AS (SELECT count(*) AS nr FROM b),
        |model AS (
        |  SELECT rc.b,
        |    CAST(floor((ln(CAST(COALESCE(tc.ct, 0) + 1 AS DOUBLE)
        |                   / CAST(nt.nt + 256 AS DOUBLE))
        |              - ln(CAST(rc.cr + 1 AS DOUBLE)
        |                   / CAST(nr.nr + 256 AS DOUBLE))) * 1e6 + 0.5)
        |      AS BIGINT) AS lr_u
        |  FROM rc LEFT JOIN tc ON tc.b = rc.b CROSS JOIN nt CROSS JOIN nr),
        |dbc AS (SELECT doc_id, b, count(*) AS c FROM b GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(sum(c * lr_u) AS BIGINT) AS score_u,
        |  CAST(CAST(sum(c * lr_u) AS BIGINT) > 0 AS BIGINT) AS selected
        |FROM dbc JOIN model USING (b)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    "q129_perplexity" ->
      """WITH ws AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS ws
        |  FROM documents),
        |b AS (
        |  SELECT doc_id,
        |    unnest([{'w1': ws[i], 'w2': ws[i + 1]} for i in range(1, len(ws))]) AS bg
        |  FROM ws WHERE len(ws) >= 2),
        |bg AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM b),
        |model AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
        |lft AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cl FROM model GROUP BY 1),
        |voc AS (SELECT count(DISTINCT w) AS v FROM (
        |          SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS w
        |          FROM documents)),
        |scored AS (
        |  SELECT bg.doc_id,
        |    CAST(floor(-ln(CAST(model.cb + 1 AS DOUBLE)
        |                   / CAST(lft.cl + voc.v AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
        |      AS nll_u
        |  FROM bg JOIN model USING (w1, w2) JOIN lft USING (w1) CROSS JOIN voc)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(CAST(sum(nll_u) AS DOUBLE) / 1e6 / count(*), 4) AS avg_nll
        |FROM scored
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    // the oracles key on the gram TEXT where the engine keys on its
    // 64-bit token-sequence hash — identical duplicate sets absent
    // 2^-64 collisions
    "q128_dup_coverage" ->
      """WITH ws AS (
        |  SELECT doc_id, lang, regexp_split_to_array(text, '\s+') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    unnest([{'pos': i, 'gram': array_to_string(ws[i:i+7], ' ')}
        |            for i in range(1, len(ws) - 6)]) AS pg
        |  FROM ws WHERE len(ws) >= 8),
        |gg AS (SELECT doc_id, CAST(pg.pos AS BIGINT) AS pos, pg.gram AS gram FROM g),
        |dup AS (SELECT gram FROM gg GROUP BY gram
        |        HAVING count(DISTINCT doc_id) >= 2),
        |dt AS (SELECT DISTINCT doc_id, t FROM (
        |         SELECT doc_id, unnest(range(pos, pos + 8)) AS t
        |         FROM gg WHERE gram IN (SELECT gram FROM dup))),
        |per AS (SELECT doc_id, count(*) AS n_dup FROM dt GROUP BY 1),
        |n AS (SELECT doc_id, lang,
        |        CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tok
        |      FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(sum(COALESCE(per.n_dup, 0)) AS BIGINT) AS n_dup_tokens,
        |  round(sum(COALESCE(per.n_dup, 0)) / CAST(sum(n_tok) AS DOUBLE), 4)
        |    AS dup_frac
        |FROM n LEFT JOIN per ON n.doc_id = per.doc_id
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,
    "q124_substring_runs" ->
      """WITH ws AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    unnest([{'pos': i, 'gram': array_to_string(ws[i:i+7], ' ')}
        |            for i in range(1, len(ws) - 6)]) AS pg
        |  FROM ws WHERE len(ws) >= 8),
        |gg AS (SELECT doc_id, CAST(pg.pos AS BIGINT) AS pos, pg.gram AS gram FROM g),
        |dup AS (SELECT gram FROM gg GROUP BY gram
        |        HAVING count(DISTINCT doc_id) >= 2),
        |m AS (SELECT doc_id, pos,
        |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |      FROM gg WHERE gram IN (SELECT gram FROM dup))
        |SELECT doc_id, min(pos) AS start_pos, max(pos) AS end_pos,
        |  count(*) AS n_dup_grams,
        |  CAST(max(pos) - min(pos) + 8 AS BIGINT) AS span_tokens
        |FROM m GROUP BY doc_id, grp
        |ORDER BY doc_id, start_pos""".stripMargin,
    "q125_substring_dedup" ->
      """WITH ws AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    unnest([{'pos': i, 'gram': array_to_string(ws[i:i+7], ' ')}
        |            for i in range(1, len(ws) - 6)]) AS pg
        |  FROM ws WHERE len(ws) >= 8),
        |gg AS (SELECT doc_id, CAST(pg.pos AS BIGINT) AS pos, pg.gram AS gram FROM g),
        |dup AS (SELECT gram FROM gg GROUP BY gram
        |        HAVING count(DISTINCT doc_id) >= 2),
        |r AS (SELECT doc_id, pos,
        |        row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
        |      FROM gg WHERE gram IN (SELECT gram FROM dup)),
        |rem AS (SELECT DISTINCT doc_id, t FROM (
        |          SELECT doc_id, unnest(range(pos, pos + 8)) AS t
        |          FROM r WHERE rn > 1)),
        |cnt AS (SELECT doc_id, count(*) AS n_removed FROM rem GROUP BY 1),
        |n AS (SELECT doc_id,
        |        CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens
        |      FROM documents)
        |SELECT n.doc_id, n.n_tokens,
        |  CAST(COALESCE(cnt.n_removed, 0) AS BIGINT) AS n_removed,
        |  n.n_tokens - CAST(COALESCE(cnt.n_removed, 0) AS BIGINT) AS n_kept
        |FROM n LEFT JOIN cnt ON n.doc_id = cnt.doc_id
        |ORDER BY n.doc_id""".stripMargin,
    "q101_seq_packing" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
        |  FROM t)
        |SELECT doc_id, n_tokens, CAST(start // 2048 AS BIGINT) AS pack_id
        |FROM c
        |ORDER BY doc_id""".stripMargin,
    "q102_repetition" ->
      """WITH ws AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    unnest([ws[i] || ' ' || ws[i + 1] for i in range(1, len(ws))]) AS g
        |  FROM ws WHERE len(ws) >= 2),
        |per AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
        |  round(max(c) / CAST(sum(c) AS DOUBLE), 4) AS top_2gram_frac,
        |  round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) / CAST(sum(c) AS DOUBLE), 4)
        |    AS dup_2gram_frac,
        |  max(c) / CAST(sum(c) AS DOUBLE) > 0.2 AS repetitive
        |FROM per
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    "q89_training_mix" ->
      s"""WITH ${Dedup.PairsCtes},
        |q AS (
        |  SELECT doc_id, lang, text, n_chars,
        |    len(regexp_split_to_array(text, '\\s+')) AS n_tokens,
        |    len(list_filter(regexp_split_to_array(text, '\\s+'),
        |        x -> x = 'the' OR x = 'a')) AS n_stop
        |  FROM documents),
        |keepq AS (
        |  SELECT * FROM q
        |  WHERE n_tokens >= 5 AND n_chars <= 20000
        |    AND NOT (n_stop * 20 < n_tokens)),
        |exd AS (
        |  SELECT * FROM (
        |    SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
        |    FROM keepq)
        |  WHERE doc_id = keep_id),
        |dups AS (SELECT DISTINCT b FROM jaccard WHERE jac >= 0.5),
        |surv AS (
        |  SELECT lang, n_tokens,
        |    ('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      % 100 AS bucket
        |  FROM exd WHERE doc_id NOT IN (SELECT b FROM dups))
        |SELECT lang,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM surv
        |GROUP BY 1, 2
        |ORDER BY lang, split""".stripMargin,
    "q90_decontaminate" ->
      """WITH ws AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ws) >= 5
        |      THEN list_distinct([array_to_string(ws[i:i+4], ' ')
        |                          for i in range(1, len(ws) - 3)])
        |      ELSE [] END AS gs
        |  FROM ws),
        |gh AS (
        |  SELECT doc_id, ('0x' || substr(md5(gg), 1, 15))::BIGINT AS g
        |  FROM g, UNNEST(gs) t(gg)),
        |ev AS (SELECT DISTINCT g FROM gh WHERE doc_id % 97 = 0),
        |contam AS (
        |  SELECT DISTINCT doc_id FROM gh
        |  WHERE doc_id % 97 <> 0 AND g IN (SELECT g FROM ev))
        |SELECT lang, count(*) AS n_train,
        |  count(*) FILTER (doc_id IN (SELECT doc_id FROM contam)) AS n_contaminated
        |FROM documents
        |WHERE doc_id % 97 <> 0
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,
  )
}
