package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Memo
import graft.util.Tables._

/** Text-analysis operators over the `documents` table (SURVEY.md §2.2 /
  * north-star LLM-pipeline surface): tokenization, corpus word/n-gram
  * frequencies, per-language quality scoring, fingerprinting, and a
  * heuristic language-ID (rows-only; no clean SQL oracle).
  *
  * Everything is built from codegen'd builtins (`split`,
  * `regexp_split`, HOF `filter`/`transform`/`aggregate`, `explode`) —
  * no UDFs — so plans stay whole-stage-codegen and scale by
  * repartitioning documents, with word/ngram frequency the only wide
  * (shuffle) stages.
  */
object TextAnalysis {

  private def toks = split(col("text"), "\\s+")

  /** Per-doc token/char counts. */
  def docTokens(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("len_chars"),
        col("n_chars"))
      .orderBy(col("doc_id"))

  /** Corpus-wide top-30 words. */
  def wordFreq(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(explode(toks).as("word"))
      .groupBy(lower(col("word")).as("word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(30)

  /** Per-language quality profile: doc count, avg tokens, stopword
    * ratio, avg chars — the classic cheap quality signals.
    */
  def langQuality(s: SparkSession, d: String): DataFrame = {
    val stops = filter(toks, t => t === "the" || t === "a")
    documents(s, d)
      .select(col("lang"), size(toks).as("n_tokens"),
        size(stops).as("n_stop"), col("n_chars"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("n_tokens")), 2).as("avg_tokens"),
        round(sum(col("n_stop")) / sum(col("n_tokens")), 4).as("stop_ratio"),
        round(avg(col("n_chars")), 2).as("avg_chars"))
      .orderBy(col("lang"))
  }

  /** Content fingerprint (md5 — hex-identical across engines). */
  def fingerprints(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("fp"),
        length(col("text")).cast("long").as("len_chars"))
      .orderBy(col("doc_id"))

  /** Corpus-wide top-20 word 3-grams. */
  def ngramFreq(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("ws", toks) // split once, not once per ngram term
      .select(expr(
        """explode(CASE WHEN size(ws) >= 3
          |  THEN transform(sequence(1, size(ws) - 2),
          |    i -> concat_ws(' ', element_at(ws, i),
          |                        element_at(ws, i + 1),
          |                        element_at(ws, i + 2)))
          |  ELSE array() END)""".stripMargin).as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram"))
      .limit(20)

  /** Heuristic language ID: stopword-list voting with a deterministic
    * tie-break (greatest over (score, lang) structs = max score, ties
    * to the largest lang string — mirrored by the oracle's
    * ORDER BY score DESC, lang DESC argmax).
    */
  def langId(s: SparkSession, d: String): DataFrame = {
    val lists = Seq(
      "en" -> Seq("the", "a", "of", "and"),
      "de" -> Seq("der", "die", "das", "und"),
      "es" -> Seq("el", "la", "de", "y"),
      "fr" -> Seq("le", "la", "de", "et"),
      "zh" -> Seq("的", "是", "了", "在"))
    val scores = lists.map { case (lang, words) =>
      val w = words.map(lit(_))
      struct(size(filter(toks, t => t.isin(w: _*))).as("score"),
        lit(lang).as("lang"))
    }
    documents(s, d)
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        greatest(scores: _*).getField("lang").as("predicted_lang"))
      .orderBy(col("doc_id"))
  }

  /** q207: language-ID classifier evaluation — per-language support /
    * predicted / true-positive counts and precision/recall/F1 for the
    * q25 stopword-voting classifier against the labeled `lang` column.
    * The standard model-eval rollup a data pipeline runs before
    * trusting a cheap classifier to route a corpus.
    *
    * Determinism: pure integer confusion counts; each metric is one
    * double division from identical integers (NULL when the
    * denominator is 0, same CASE on both engines).
    *
    * Scale shape: the q25 scorer is a narrow per-row pass; the three
    * rollups all key on the ≤|languages| label alphabet, so every
    * join/agg after the scan is alphabet-bounded (the three count
    * tables are ≤|languages| rows each, forever).
    */
  def langIdEval(s: SparkSession, d: String): DataFrame = {
    val preds = langId(s, d)
    val support = preds.groupBy(col("labeled_lang").as("lang"))
      .agg(count(lit(1)).as("support"))
    val predicted = preds.groupBy(col("predicted_lang").as("lang"))
      .agg(count(lit(1)).as("predicted"))
    val tp = preds.filter(col("labeled_lang") === col("predicted_lang"))
      .groupBy(col("labeled_lang").as("lang"))
      .agg(count(lit(1)).as("tp"))
    val p = col("tp").cast("double") / col("predicted").cast("double")
    val r = col("tp").cast("double") / col("support").cast("double")
    // full-outer joins can't broadcast-build; these are ≤|languages|-row
    // tables so the shuffled full-outer is bytes-trivial at any scale
    support
      .join(predicted, Seq("lang"), "full_outer")
      .join(tp, Seq("lang"), "full_outer")
      .select(col("lang"),
        coalesce(col("support"), lit(0L)).as("support"),
        coalesce(col("predicted"), lit(0L)).as("predicted"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .select(col("lang"), col("support"), col("predicted"), col("tp"),
        when(col("predicted") > 0, round(p, 6)).as("precision"),
        when(col("support") > 0, round(r, 6)).as("recall"),
        when(col("predicted") > 0 && col("support") > 0 && col("tp") > 0,
          round(lit(2.0) * p * r / (p + r), 6)).as("f1"))
      .orderBy(col("lang"))
  }

  /** Winnowing fingerprint selection (Schleimer-Wilkerson-Aiken 2003,
    * the MOSS algorithm): 3-word-gram 60-bit hashes (the md5-prefix
    * convention of q27's shingles), sliding window of w = 4
    * consecutive gram hashes, RIGHTMOST-minimum selected per window.
    * Winnowing guarantees any shared run of ≥ w + k − 1 tokens yields
    * at least one shared fingerprint, at expected density 2/(w+1) —
    * the position-robust document fingerprint (q23 is the whole-doc
    * hash; this survives edits).
    *
    * The rightmost-min rule is made total-order-exact by comparing
    * `%015x(hash)|%07d(9999999 − pos)` strings: lexicographic min =
    * (smallest hash, largest position) — both engines agree on ASCII
    * string order, no float or struct-comparison semantics involved.
    * Windows are the full ones (pos + w − 1 ≤ n_grams) plus the
    * degenerate whole-doc window when a doc has fewer than w grams.
    * Positions cap at 10⁷ grams/doc (the giant-record guard tier).
    *
    * Scale shape: narrow gram hashing → ONE doc-keyed sort window
    * (positions are doc-bounded) → distinct rollup. Selected rows are
    * ~2/(w+1)·grams, shuffling 8-byte hashes, never text.
    */
  /** winnowSelected memoized + cache()d per (session, dir): q209 and
    * q210 both start from the same selection pass (and q210 consumes
    * it three times — df filter, both join sides) — the q124-q128
    * gram-table sharing discipline.
    */
  private val winnowMemo = new Memo[(SparkSession, String), DataFrame]

  private def winnowSelected(s: SparkSession, d: String): DataFrame =
    winnowMemo((s, d))(
      graft.util.CacheRegistry.register(winnowSelectedUncached(s, d).cache()))

  private def winnowSelectedUncached(s: SparkSession, d: String): DataFrame =
    winnowSelectedOn(documents(s, d))

  /** Selection over an arbitrary (doc_id, text) relation — exposed for
    * the Round7OpsSpec edit-robustness law (the winnowing guarantee:
    * any shared run of ≥ w + k − 1 tokens yields a shared fingerprint,
    * provable only with constructed inputs).
    */
  private[graft] def winnowSelectedOn(docs: DataFrame, w: Int = 4): DataFrame = {
    val grams = docs
      .withColumn("ws", toks)
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"),
        posexplode(expr(
          """transform(sequence(1, size(ws) - 2),
            |  i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1),
            |                      element_at(ws, i + 2)))""".stripMargin))
          .as(Seq("p0", "gram")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
        conv(substring(md5(col("gram")), 1, 15), 16, 10).cast("long").as("h"))
    val byDocAll = Window.partitionBy(col("doc_id"))
    val frame = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("skey",
        format_string("%015x|%07d", col("h"), lit(9999999L) - col("pos")))
      .withColumn("n_grams", count(lit(1)).over(byDocAll))
      .withColumn("mkey", min(col("skey")).over(frame))
      .filter(col("pos") + (w - 1) <= col("n_grams") || col("pos") === 1)
      .select(col("doc_id"), col("n_grams"), col("mkey"))
      .distinct()
      .select(col("doc_id"), col("n_grams"),
        conv(substring(col("mkey"), 1, 15), 16, 10).cast("long").as("fp"))
  }

  /** q209: per-document winnowing profile — selected-fingerprint count
    * and density (the 2/(w+1) law is spec-pinned in Round7OpsSpec).
    */
  def winnowProfile(s: SparkSession, d: String): DataFrame =
    winnowSelected(s, d)
      .groupBy(col("doc_id"))
      .agg(max(col("n_grams")).as("n_grams"), count(lit(1)).as("n_fp"))
      .select(col("doc_id"), col("n_grams"), col("n_fp"),
        round(col("n_fp").cast("double") / col("n_grams").cast("double"), 4)
          .as("density"))
      .orderBy(col("doc_id"))

  /** q210: cross-document shared-fingerprint detection (the MOSS
    * report): top-10 document pairs by count of shared DISTINCT
    * winnowed hashes, with similarity = shared / min(|fp_a|, |fp_b|).
    *
    * Scale shape: the pair join keys on winnowed hashes with a
    * document-frequency cap (df ≤ 20 — boilerplate fingerprints carry
    * no plagiarism signal and would dominate the fan-out; the q119 df
    * discipline), so candidate pairs are bounded by df²-per-hash, not
    * corpus². The distinct fingerprint relation is computed once and
    * cached for its three consumers.
    */
  def winnowPairs(s: SparkSession, d: String,
      dfCap: Int = 20, topN: Int = 10): DataFrame = {
    val sel = graft.util.CacheRegistry.register(
      winnowSelected(s, d).select(col("doc_id"), col("fp")).distinct().cache())
    val rareFp = sel.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
    val rare = sel.join(rareFp.select(col("fp")), Seq("fp"))
    val nfp = sel.groupBy(col("doc_id")).agg(count(lit(1)).as("nfp"))
    rare.as("a")
      .join(rare.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .join(nfp.select(col("doc_id").as("doc_a"), col("nfp").as("nfa")), Seq("doc_a"))
      .join(nfp.select(col("doc_id").as("doc_b"), col("nfp").as("nfb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("shared"),
        round(col("shared").cast("double")
          / least(col("nfa"), col("nfb")).cast("double"), 4).as("sim"))
      .orderBy(col("shared").desc, col("doc_a"), col("doc_b"))
      .limit(topN)
  }

  /** q211: Heaps'-law vocabulary-growth fit — V(n) ≈ K·n^β over the
    * doc_id-ordered corpus prefix: after each document, n = cumulative
    * tokens seen and V = cumulative distinct words seen; the fit is
    * OLS of ln V on ln n (English corpora: β ≈ 0.4-0.6). The
    * companion diagnostic to q205's Zipf slope: together they pin
    * whether a corpus's growth statistics look like natural text.
    *
    * Cumulative V never re-scans prefixes: each word contributes to
    * exactly its FIRST document (one word-keyed min rollup), so V(d)
    * is the running sum of per-doc new-word counts. Both running sums
    * use the q101/q163 two-pass prefix scan — range partition on
    * doc_id, per-partition totals to the driver (O(partitions) rows),
    * exclusive offsets broadcast back — never a single-partition
    * window over the corpus.
    *
    * Determinism: logs quantize to integer micro-nats (q205), moments
    * are exact DECIMAL sums of DECIMAL(19,0) products, and the OLS
    * assembly converts each exact moment to double once (the q199
    * convention) in an identical expression tree on both engines.
    */
  def heapsLaw(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val Dec19 = org.apache.spark.sql.types.DataTypes.createDecimalType(19, 0)
    val docs = documents(s, d)
      .select(col("doc_id"),
        filter(split(lower(col("text")), "\\s+"),
          w => length(w) > 0).as("wsl"))
    val counts = docs.select(col("doc_id"), size(col("wsl")).cast("long").as("nt"))
    val firstOcc = docs.select(col("doc_id"), explode(col("wsl")).as("word"))
      .groupBy(col("word")).agg(min(col("doc_id")).as("fd"))
      .groupBy(col("fd")).agg(count(lit(1)).as("nw"))
    val base = counts.join(firstOcc, counts("doc_id") === firstOcc("fd"), "left")
      .select(col("doc_id"), col("nt"), coalesce(col("nw"), lit(0L)).as("nw"))
    val ranged = graft.util.CacheRegistry.register(
      base.repartitionByRange(col("doc_id"))
        .sortWithinPartitions(col("doc_id")).cache())
    val partSums = ranged.groupBy(spark_partition_id().as("pid"))
      .agg(sum(col("nt")).as("t"), sum(col("nw")).as("v"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val nParts = ranged.rdd.getNumPartitions
    val offT = new Array[Long](nParts)
    val offV = new Array[Long](nParts)
    var at = 0L; var av = 0L
    (0 until nParts).foreach { i =>
      offT(i) = at; offV(i) = av
      val (t, v) = partSums.getOrElse(i, (0L, 0L)); at += t; av += v
    }
    val bc = s.sparkContext.broadcast((offT, offV))
    val cum = ranged.as[(Long, Long, Long)].mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var t = bc.value._1(pid); var v = bc.value._2(pid)
      it.map { case (_, nt, nw) => t += nt; v += nw; (t, v) }
    }.toDF("t", "v").filter(col("t") >= 1 && col("v") >= 1)
    def d19(c: org.apache.spark.sql.Column) = c.cast(Dec19)
    val m = cum.select(
      floor(log(col("t").cast("double")) * 1e6 + 0.5).cast("long").as("x"),
      floor(log(col("v").cast("double")) * 1e6 + 0.5).cast("long").as("y"))
    val a = m.agg(count(lit(1)).as("n_docs"),
      sum(d19(col("x"))).as("sx"),
      sum(d19(col("y"))).as("sy"),
      sum(d19(col("x")) * d19(col("y"))).as("sxy"),
      sum(d19(col("x")) * d19(col("x"))).as("sxx"))
    def dd(c: String) = col(c).cast("double")
    val denom = dd("n_docs") * dd("sxx") - dd("sx") * dd("sx")
    val slope = (dd("n_docs") * dd("sxy") - dd("sx") * dd("sy")) / denom
    // NULL (not NaN/inf — the engines disagree on double x/0) for a
    // degenerate single-point fit
    a.select(col("n_docs"),
      when(denom =!= 0, round(slope, 6)).as("beta"),
      when(denom =!= 0,
        round((dd("sy") - slope * dd("sx")) / (dd("n_docs") * 1e6), 6))
        .as("ln_k"))
  }

  /** TF-IDF: the most characteristic term per document (tf × ln(N/df),
    * ties broken alphabetically). Exercises the two-level aggregation +
    * join + window composition of a real feature pipeline.
    */
  def tfidfTopTerm(s: SparkSession, d: String): DataFrame = {
    val words = documents(s, d).select(col("doc_id"), explode(toks).as("word"))
    // ONE shuffle of the exploded corpus: tf's keys are exactly the
    // distinct (doc, word) pairs, so df rolls up from tf instead of a
    // second corpus-wide distinct(); the cache stops the explode+agg
    // from re-running for the df branch.
    val tf = graft.util.CacheRegistry.register(
      words.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf")).cache())
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val n = documents(s, d).count() // tiny scalar, computed once
    // per-doc top term is an ARGMAX aggregation (min of (-tfidf, word)
    // = highest tfidf, ties to the smallest word), not a window —
    // row_number would sort and shuffle every (doc, word) score
    tf.join(broadcast(df), Seq("word")) // df = distinct vocab: tiny forever
      .withColumn("tfidf", col("tf") * log(lit(n.toDouble) / col("df")))
      .groupBy(col("doc_id"))
      .agg(min_by(struct(col("word"), col("tfidf")),
        struct((-col("tfidf")).as("neg"), col("word"))).as("m"))
      .select(col("doc_id"), col("m.word").as("top_term"),
        round(col("m.tfidf"), 4).as("tfidf"))
      .orderBy(col("doc_id"))
  }

  /** BM25 relevance: top-10 documents for a fixed query (Okapi
    * k1=1.2, b=0.75 — Robertson et al.). The retrieval scorer behind
    * classic quality filtering / retrieval-based decontamination.
    *
    * Scale shape: tokens are filtered to the QUERY terms before any
    * shuffle, so the wide stages see ≤ |terms| rows per doc, never the
    * exploded corpus; doc length rides along in the grouping key
    * (functionally dependent on doc_id) instead of a second join; df
    * is |terms| rows, broadcast. Final top-10 is a
    * TakeOrderedAndProject, no global sort.
    */
  def bm25(s: SparkSession, d: String,
      terms: Seq[String] = Seq("hash", "join", "scan"),
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25Scores(s, d, terms, k1, b)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)
      .select(col("doc_id"), round(col("score"), 4).as("bm25"))

  /** Unrounded per-doc BM25 scores — q103's scorer, reused by the RRF
    * fusion (q175), which needs the raw ranking, not the rounded
    * top-10 projection.
    */
  private[graft] def bm25Scores(s: SparkSession, d: String,
      terms: Seq[String], k1: Double, b: Double): DataFrame = {
    val docs = documents(s, d)
      .select(col("doc_id"), toks.as("ws"))
      .select(col("doc_id"), col("ws"),
        size(col("ws")).cast("double").as("dl"))
    val st = docs.agg(count(lit(1)).cast("double").as("n"),
      avg(col("dl")).as("avgdl")).first()
    val (n, avgdl) = (st.getDouble(0), st.getDouble(1))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("ws")).as("w"))
      .select(col("doc_id"), col("dl"), lower(col("w")).as("word"))
      .filter(col("word").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("word"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy(col("word")).agg(count(lit(1)).cast("double").as("df"))
    val idf = log(lit(1.0) + (lit(n) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val norm = col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / lit(avgdl))
    tf.join(broadcast(df), Seq("word"))
      .withColumn("term_score", idf * col("tf") * lit(k1 + 1) / norm)
      .groupBy(col("doc_id"))
      .agg(sum(col("term_score")).as("score"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): weighted
    * PageRank over the word co-occurrence (bigram) graph, 3 fixed
    * iterations, damping 0.85, top-20 words.
    *
    * Scale shape: the distributed stage is the GRAPH BUILD — one
    * shuffle aggregating the corpus's bigram stream down to weighted
    * edges (|V|² worst case, ≪ corpus). Each iteration is then two
    * equi-joins + an aggregation on that edge table, expressed as
    * DataFrames so the same code runs whether the vocabulary is 31
    * words (here) or 10M (web-scale); AQE picks broadcast vs shuffle
    * join per size at runtime. No per-node driver loop — the only
    * actions are the two scalar stats.
    */
  def textRank(s: SparkSession, d: String,
      iters: Int = 3, damp: Double = 0.85): DataFrame = {
    val docs = documents(s, d).withColumn("ws", toks)
    val bigrams = docs.select(expr(
      """explode(CASE WHEN size(ws) >= 2
        |  THEN transform(sequence(1, size(ws) - 1),
        |    i -> struct(lower(element_at(ws, i)) AS src,
        |                lower(element_at(ws, i + 1)) AS dst))
        |  ELSE array() END)""".stripMargin).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val edges = bigrams.groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).cast("double").as("w"))
    // cache the NORMALIZED edges and the node set, not the raw edge
    // counts: each iteration re-reads norm and nodes, so without the
    // caches the corpus-wide bigram aggregation + window would re-run
    // per iteration (measured ~2× on the whole query)
    val norm = graft.util.CacheRegistry.register(edges
      .withColumn("p", col("w") / sum(col("w")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      .select(col("src"), col("dst"), col("p")).cache())
    val nodes = graft.util.CacheRegistry.register(
      norm.select(col("src").as("word"))
        .union(norm.select(col("dst").as("word"))).distinct().cache())
    val nv = nodes.count().toDouble
    var rank = nodes.select(col("word"), lit(1.0 / nv).as("score"))
    (1 to iters).foreach { _ =>
      val contrib = norm
        .join(rank.withColumnRenamed("word", "src"), Seq("src"))
        .groupBy(col("dst").as("word"))
        .agg(sum(col("p") * col("score")).as("c"))
      rank = nodes.join(contrib, Seq("word"), "left")
        .select(col("word"),
          (lit((1 - damp) / nv) +
            lit(damp) * coalesce(col("c"), lit(0.0))).as("score"))
    }
    rank.orderBy(col("score").desc, col("word")).limit(20)
      .select(col("word"), round(col("score"), 6).as("rank"))
  }

  /** Exact vs approximate distinct counting (HLL++), raw estimates —
    * spec-only (OpsSpec pins the error); the registered q36 is the
    * gate form below.
    */
  private[graft] def approxDistinctRaw(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("lang"), explode(toks).as("word"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("word")).as("exact_words"),
        approx_count_distinct(col("word"), 0.02).as("approx_words"))
      .orderBy(col("lang"))

  /** HLL++ distinct, deterministic driver gate: the estimate itself is
    * engine-specific (DuckDB's sketch ≠ Spark's), so the registered
    * output carries the EXACT count (oracle-checkable) plus a boolean
    * asserting the estimate sits inside its declared envelope — 10%,
    * i.e. 5× the requested 2% rsd. HLL++ is hash-based and
    * order-independent, so the boolean is stable run to run, and the
    * gate now distinguishes "approximate by design" from "broken".
    */
  def approxDistinct(s: SparkSession, d: String): DataFrame =
    approxDistinctRaw(s, d)
      .select(col("lang"), col("exact_words"),
        (abs(col("approx_words") - col("exact_words")) <=
          col("exact_words").cast("double") * lit(0.10)).as("approx_ok"))
      .orderBy(col("lang"))

  /** BPE-ish token estimation (north-star "token counting"): word
    * pieces = runs of ASCII word chars OR single non-word non-space
    * chars (the GPT-2 pre-tokenizer shape, ASCII classes spelled out
    * so Java-regex and RE2 agree), plus a chars-per-token ratio.
    */
  def tokenEstimate(s: SparkSession, d: String): DataFrame = {
    val pieces = regexp_extract_all(col("text"),
      lit("[A-Za-z0-9_]+|[^A-Za-z0-9_ \\t\\n\\r]"), lit(0))
    documents(s, d)
      .select(col("doc_id"),
        size(pieces).cast("long").as("n_pieces"),
        round(length(col("text")).cast("double") /
          greatest(size(pieces), lit(1)), 4).as("chars_per_piece"))
      .orderBy(col("doc_id"))
  }

  /** Text normalization — the first stage of every training-data
    * pipeline: lowercase, strip non-word punctuation (ASCII classes so
    * Java regex and RE2 agree), squish whitespace runs, trim. Emits a
    * content hash of the normalized form so the oracle pins the exact
    * bytes, not just lengths.
    */
  def normalizeText(s: SparkSession, d: String): DataFrame = {
    val norm = trim(regexp_replace(regexp_replace(lower(col("text")),
      "[^a-z0-9\\u0080-\\uFFFF \\t\\n\\r]", " "), "[ \\t\\n\\r]+", " "))
    documents(s, d)
      .select(col("doc_id"), length(norm).cast("long").as("n_chars_norm"),
        md5(norm).as("norm_fp"))
      .orderBy(col("doc_id"))
  }

  /** Quality-filter verdicts: the q22 signals folded into keep/drop
    * decisions with a reason code — the shape a corpus-cleaning job
    * materializes. All thresholds integer/ratio-exact.
    */
  /** Per-doc quality verdicts (q62's projection) as a memo-CACHED
    * stage shared by q62 and the q262 governance card — computed once
    * per (session, sf dir), plan-pinned by Round8OpsSpec.
    */
  private val qualityCache = new Memo[(SparkSession, String), DataFrame]
  private[graft] def docQuality(s: SparkSession, d: String): DataFrame =
    qualityCache((s, d))(graft.util.CacheRegistry.register {
      val nTok = size(toks)
      val nStop = size(filter(toks, t => t === "the" || t === "a"))
      documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"),
          nTok.cast("long").as("n_tokens"),
          when(nTok < 5, "too_short")
            .when(col("n_chars") > 20000, "too_long")
            .when(nStop * 20 < nTok, "low_stopword") // ratio < 0.05, exact ints
            .otherwise("keep").as("verdict"))
        .cache()
    })

  def qualityFilter(s: SparkSession, d: String): DataFrame =
    docQuality(s, d)
      .select(col("doc_id"), col("n_tokens"), col("verdict"))
      .orderBy(col("doc_id"))

  /** Relative quality gate, CCNet-style: instead of q62's absolute
    * thresholds, each language keeps the head of ITS OWN quality
    * distribution — drop every document whose stopword density falls
    * below that language's q-th percentile. Reports per language the
    * doc count, the interpolated cutoff, and kept/dropped counts.
    *
    * The percentile is histogram-exact, not buffer-exact: a
    * (lang, score)-keyed count is the only corpus-wide aggregation
    * (map-side combinable; state bounded by DISTINCT score ratios —
    * rationals of small token counts — never by doc count), and the
    * interpolation `v_lo + (v_hi - v_lo)·frac` runs over that tiny
    * histogram. Spark's `percentile()` would buffer every value per
    * group — the 100 TB anti-pattern this shape exists to avoid. Kept
    * counts also read the histogram, so after the one scan nothing
    * touches per-doc rows.
    *
    * Determinism: scores are int/int double divisions (bit-identical
    * both engines); the oracle spells out the SAME interpolation
    * formula instead of quantile_cont, so the cutoff and the ≥
    * comparisons sit on identical doubles.
    */
  def qualityGate(s: SparkSession, d: String, q: Double = 0.25): DataFrame = {
    val score = (size(filter(toks, t => t === "the" || t === "a")).cast("double") /
      size(toks).cast("double")).as("score")
    val hist = documents(s, d).select(col("lang"), score)
      .groupBy(col("lang"), col("score")).agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("lang")).orderBy(col("score"))
    val cum = hist
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("lang"))))
      .withColumn("r", (col("n") - 1).cast("double") * lit(q))
      .withColumn("k", floor(col("r")))
    val cuts = cum.groupBy(col("lang"))
      .agg(
        max(col("n")).as("n_docs"),
        max(col("r") - col("k")).as("frac"),
        min(when(col("cum") >= col("k") + 1, col("score"))).as("vlo"),
        min(when(col("cum") >= col("k") + 2, col("score"))).as("vhi"))
      .select(col("lang"), col("n_docs"),
        (col("vlo") + (coalesce(col("vhi"), col("vlo")) - col("vlo")) * col("frac"))
          .as("cutoff"))
    hist.join(broadcast(cuts), Seq("lang"))
      .groupBy(col("lang"))
      .agg(
        max(col("n_docs")).as("n_docs"),
        round(max(col("cutoff")), 6).as("cutoff"),
        sum(when(col("score") >= col("cutoff"), col("c")).otherwise(lit(0L)))
          .as("n_kept"))
      .withColumn("n_dropped", col("n_docs") - col("n_kept"))
      .orderBy(col("lang"))
  }

  /** Cross-lingual quantile normalization (q163): map every document's
    * q142-style quality score to the GLOBAL score distribution at the
    * document's within-language quantile — the rank-based calibration
    * that makes one score threshold mean the same thing across
    * languages (a per-language score of "75th percentile" becomes the
    * corpus-wide 75th-percentile VALUE). Interpolation between global
    * order statistics uses the exact (N−1)·pr rule, the same
    * convention as q42/q142.
    *
    * The global order statistics are computed SCALE-CORRECTLY: no
    * single-partition window — a range partition on score (Spark's
    * distributed sort) plus the q101/q122 two-pass scan (per-partition
    * counts → exclusive offsets broadcast back) yields every global
    * rank with O(partitions) driver rows; the per-language percent_rank
    * is an ordinary partitioned window.
    */
  def quantileNormalize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val score = (size(filter(toks, t => t === "the" || t === "a")).cast("double") /
      size(toks).cast("double")).as("score")
    val sc = documents(s, d).select(col("doc_id"), col("lang"), score)
    val n = sc.count()
    val ranged = sc.select(col("score"), col("doc_id"))
      .repartitionByRange(col("score"), col("doc_id"))
      .sortWithinPartitions(col("score"), col("doc_id"))
      .cache() // pins the sampled range bounds across the two passes
    graft.util.CacheRegistry.register(ranged)
    val partCounts = ranged.groupBy(spark_partition_id().as("pid"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nParts = ranged.rdd.getNumPartitions
    val offsets = new Array[Long](nParts)
    var acc = 0L
    (0 until nParts).foreach { i =>
      offsets(i) = acc; acc += partCounts.getOrElse(i, 0L)
    }
    val bc = s.sparkContext.broadcast(offsets)
    val ranks = ranged.as[(Double, Long)].mapPartitions { it =>
      var rn = bc.value(org.apache.spark.TaskContext.getPartitionId())
      it.map { case (sv, _) => rn += 1; (rn, sv) }
    }.toDF("rn", "gscore")
    val wLang = Window.partitionBy(col("lang")).orderBy(col("score"))
    val ks = sc
      .withColumn("pr", percent_rank().over(wLang))
      .withColumn("r", col("pr") * lit((n - 1).toDouble))
      .withColumn("k", floor(col("r")).cast("long"))
      .withColumn("frac", col("r") - floor(col("r")))
    ks
      .join(ranks.select(col("rn"), col("gscore").as("s_lo")),
        ks("k") + 1 === col("rn"))
      .drop("rn")
      .join(ranks.select(col("rn"), col("gscore").as("s_hi")),
        ks("k") + 2 === col("rn"), "left")
      .select(col("doc_id"), col("lang"), round(col("score"), 6).as("score"),
        round(col("s_lo") +
          (coalesce(col("s_hi"), col("s_lo")) - col("s_lo")) * col("frac"), 6)
          .as("norm_score"))
      .orderBy(col("doc_id"))
  }

  /** PII-style redaction pass: mask email-shaped tokens then digit
    * runs (order matters — emails often contain digits), count both,
    * and pin the exact redacted bytes via md5. ASCII character
    * classes so Java regex and RE2 agree.
    */
  def redact(s: SparkSession, d: String): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val digitRe = "[0-9]+"
    val redacted = regexp_replace(
      regexp_replace(col("text"), emailRe, "[EMAIL]"), digitRe, "#")
    documents(s, d)
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(emailRe), lit(0))).cast("long")
          .as("n_emails"),
        size(regexp_extract_all(col("text"), lit(digitRe), lit(0))).cast("long")
          .as("n_digit_runs"),
        md5(redacted).as("redacted_fp"))
      .orderBy(col("doc_id"))
  }

  /** Context chunking: fixed 50-token windows with stride 40 (10-token
    * overlap) — the LLM-ingest segmentation op. Chunk count and exact
    * chunk text are both pinned (md5), built from one split + an
    * exploded chunk index + `slice`, all engine-portable.
    */
  def chunk(s: SparkSession, d: String, size: Int = 50, stride: Int = 40): DataFrame =
    documents(s, d)
      .withColumn("ws", toks)
      .withColumn("n_chunks",
        greatest(ceil((org.apache.spark.sql.functions.size(col("ws")) - lit(size))
          / lit(stride.toDouble)).cast("long") + 1, lit(1L)))
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_no"))
      .select(col("doc_id"), col("chunk_no"),
        concat_ws(" ", slice(col("ws"),
          (col("chunk_no") * stride + 1).cast("int"), lit(size)))
          .as("chunk"))
      .select(col("doc_id"), col("chunk_no"),
        org.apache.spark.sql.functions.size(split(col("chunk"), " "))
          .cast("long").as("n_tokens"),
        md5(col("chunk")).as("chunk_fp"))
      .orderBy(col("doc_id"), col("chunk_no"))

  /** Lexical diversity per language (q160): type-token ratio, Simpson
    * diversity 1 − Σp², and effective vocabulary 1/Σp² — the corpus
    * health metrics that flag a template-flooded or over-deduped
    * language slice before training. Deliberately log-free: entropy's
    * per-term `p·log₂p` would hash-race on libm ulp differences
    * between the JVM and DuckDB, while Σc² is exact integer
    * arithmetic and the final ratios are single IEEE divisions —
    * bit-identical everywhere.
    *
    * Scale shape: one (lang, word) rollup (map-side combinable) →
    * one ≤|langs|-key rollup. The Σc² accumulator is exact while
    * every per-word count stays < 3×10⁹ (Σc² < 2⁶³); a corpus beyond
    * that lifts the accumulator to DECIMAL(38,0), the q117
    * discipline.
    */
  def lexicalDiversity(s: SparkSession, d: String): DataFrame =
    lexicalDiversityOn(documents(s, d))

  private[graft] def lexicalDiversityOn(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"), explode(split(col("text"), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("lang"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(col("c") * col("c")).as("sum_sq"))
      .select(col("lang"), col("n_tokens"), col("vocab"), col("sum_sq"),
        round(col("vocab").cast("double") / col("n_tokens"), 6).as("ttr"),
        round(lit(1.0) - col("sum_sq").cast("double") /
          (col("n_tokens").cast("double") * col("n_tokens")), 6).as("simpson"),
        round(col("n_tokens").cast("double") * col("n_tokens") / col("sum_sq"), 4)
          .as("eff_vocab"))
      .orderBy(col("lang"))

  /** q219: FORCAST readability per language. The corpus has no
    * sentence punctuation (Flesch/FK are undefined on it), so the
    * right classical formula is FORCAST — the one readability grade
    * built WITHOUT a sentence count, designed for non-prose text:
    * grade = 20 − (monosyllabic words per 150 words)/10. Syllables are
    * approximated by vowel-group runs ([aeiouy]+), the standard
    * heuristic. Per language: doc/word/syllable/monosyllable totals
    * (exact integers), syllables-per-word, monosyllable share, and the
    * FORCAST grade computed from the aggregated totals.
    *
    * Determinism: every per-doc count is an integer from one regex
    * pass; language totals are integer sums; each reported metric is
    * one double expression over those exact totals, rounded per-row —
    * no float accumulates anywhere.
    *
    * Scale shape: one narrow projection per doc (regex + HOF filter
    * inside codegen, no explode — the per-word loop runs inside the
    * row), then a |langs|-keyed aggregation. Shuffle carries 4
    * integers per doc.
    */
  def readability(s: SparkSession, d: String): DataFrame = {
    val words = split(col("text"), "\\s+")
    val syll = (w: org.apache.spark.sql.Column) =>
      size(regexp_extract_all(w, lit("[aeiouy]+"), lit(0)))
    documents(s, d)
      .select(col("lang"),
        size(words).cast("long").as("w"),
        aggregate(transform(words, syll), lit(0L), (a, x) => a + x).as("sy"),
        size(filter(words, w => syll(w) === 1)).cast("long").as("mono"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
        sum(col("sy")).as("n_syllables"), sum(col("mono")).as("n_mono"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_syllables"),
        col("n_mono"),
        round(col("n_syllables").cast("double") /
          col("n_words").cast("double"), 6).as("syll_per_word"),
        round(col("n_mono").cast("double") /
          col("n_words").cast("double"), 6).as("mono_share"),
        round(lit(20.0) - (lit(150.0) * col("n_mono").cast("double") /
          col("n_words").cast("double")) / lit(10.0), 6).as("forcast_grade"))
      .orderBy(col("lang"))
  }

  /** q231: rare-n-gram novelty — per language, how much of each doc's
    * DISTINCT 3-gram set appears nowhere else in the corpus. High
    * novelty = original or noisy text; low = boilerplate/template
    * mass. The complement to q102's WITHIN-doc repetition: this is
    * ACROSS-doc originality, a standard training-mix quality axis.
    *
    * Determinism: gram document-frequencies and per-doc counts are
    * exact integers; the per-doc novelty ratio quantizes to 1e-6
    * units before the cross-doc mean (the q208 convention) so the
    * language rollup is order-free.
    *
    * Scale shape: one (doc, gram)-distinct reduction, one gram-keyed
    * df count joined back on the gram key, then doc- and lang-keyed
    * rollups. At 100 TB the gram join key is the q124-style 8-byte
    * gram hash rather than the string (identical dataflow; the string
    * form here keeps the oracle 1:1).
    */
  /** Per-doc rare-3-gram novelty (q231's per-doc stage, source kept)
    * as a memo-CACHED stage shared by q231 and the q262 governance
    * card.
    */
  private val noveltyCache = new Memo[(SparkSession, String), DataFrame]
  private[graft] def docNovelty(s: SparkSession, d: String): DataFrame =
    noveltyCache((s, d))(graft.util.CacheRegistry.register {
      val grams = documents(s, d)
        .withColumn("ws", toks)
        .select(col("doc_id"), col("lang"), col("source"), expr(
          """explode(CASE WHEN size(ws) >= 3
            |  THEN transform(sequence(1, size(ws) - 2),
            |    i -> concat_ws(' ', element_at(ws, i),
            |                        element_at(ws, i + 1),
            |                        element_at(ws, i + 2)))
            |  ELSE array() END)""".stripMargin).as("gram"))
        .distinct()
      val df = grams.groupBy(col("gram")).agg(count(lit(1)).as("df"))
      grams.join(df, Seq("gram"))
        .groupBy(col("doc_id"), col("lang"), col("source"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_grams"), col("n_unique"),
          floor(col("n_unique").cast("double") / col("n_grams").cast("double")
            * 1e6 + 0.5).cast("long").as("nu"))
        .cache()
    })

  def ngramNovelty(s: SparkSession, d: String): DataFrame = {
    val perDoc = docNovelty(s, d)
    perDoc.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_grams")).as("total_grams"),
        sum(col("n_unique")).as("unique_grams"),
        sum(col("nu")).as("snu"))
      .select(col("lang"), col("n_docs"), col("total_grams"),
        col("unique_grams"),
        round(col("snu").cast("double")
          / (col("n_docs").cast("double") * 1e6), 6).as("mean_novelty"))
      .orderBy(col("lang"))
  }

  /** q248: keyword-in-context (KWIC) concordance — every occurrence
    * of the query term with its ±2-word window, rolled up to the
    * most frequent contexts. The corpus-linguistics primitive behind
    * "how is this term actually used" audits (sense disambiguation,
    * template detection around a keyword); on a training corpus it
    * surfaces the boilerplate frames a term lives in.
    *
    * Scale shape: one posexplode → ONE (doc)-keyed window pass wires
    * the neighbors (the per-doc sort every positional-text op
    * shares) → the filter to the term keeps only its occurrences →
    * a context-keyed count. Window width is fixed (±2), so row width
    * is bounded; the wide stage carries term occurrences only.
    */
  def kwic(s: SparkSession, d: String, term: String = "key",
      topK: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    documents(s, d)
      .select(col("doc_id"), posexplode(toks).as(Seq("pos", "word")))
      .select(col("doc_id"), col("pos"), col("word"),
        lag(col("word"), 2).over(w).as("m2"),
        lag(col("word"), 1).over(w).as("m1"),
        lead(col("word"), 1).over(w).as("p1"),
        lead(col("word"), 2).over(w).as("p2"))
      .filter(col("word") === term)
      .select(concat_ws(" ",
        coalesce(col("m2"), lit("^")), coalesce(col("m1"), lit("^")),
        col("word"),
        coalesce(col("p1"), lit("$")), coalesce(col("p2"), lit("$")))
        .as("context"))
      .groupBy(col("context"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("context"))
      .limit(topK)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q248_kwic" -> ((s: SparkSession, d: String) => kwic(s, d)),
    "q231_ngram_novelty" -> ngramNovelty _,
    "q219_readability" -> readability _,
    "q160_lexical_diversity" -> lexicalDiversity _,
    "q163_quantile_norm" -> quantileNormalize _,
    "q72_redact"         -> redact _,
    "q73_chunking"       -> ((s: SparkSession, d: String) => chunk(s, d)),
    "q61_normalize_text" -> normalizeText _,
    "q62_quality_filter" -> qualityFilter _,
    "q142_quality_gate"  -> ((s: SparkSession, d: String) => qualityGate(s, d)),
    "q39_token_estimate" -> tokenEstimate _,
    "q35_tfidf_top_term" -> tfidfTopTerm _,
    "q36_approx_distinct" -> approxDistinct _,
    "q20_doc_tokens"   -> docTokens _,
    "q21_word_freq"    -> wordFreq _,
    "q22_lang_quality" -> langQuality _,
    "q23_fingerprint"  -> fingerprints _,
    "q24_ngram_freq"   -> ngramFreq _,
    "q25_lang_id"      -> langId _,
    "q207_langid_eval" -> langIdEval _,
    "q209_winnow_profile" -> winnowProfile _,
    "q211_heaps_law"   -> heapsLaw _,
    "q210_winnow_pairs" -> ((s: SparkSession, d: String) => winnowPairs(s, d)),
    "q103_bm25"        -> ((s: SparkSession, d: String) => bm25(s, d)),
    "q104_textrank"    -> ((s: SparkSession, d: String) => textRank(s, d)),
    "q175_rrf_fusion"  -> ((s: SparkSession, d: String) => rrfFusion(s, d)),
    "q188_rank_corr"   -> ((s: SparkSession, d: String) => rankCorrelation(s, d)),
  )

  /** q188: Kendall τ between the lexical and semantic top-20 rankings
    * (q175's two lists) — the agreement statistic that says whether
    * the two retrieval modalities order the SAME documents the same
    * way. Computed over the intersection of the lists: every doc pair
    * is concordant (both rankings agree on the order) or discordant
    * (ranks are distinct integers — no tie branch).
    *
    * Determinism: pure integer pair counting; τ is one double
    * division at the end.
    *
    * Scale shape: both inputs are fusion-width lists (≤ 20 rows), so
    * the pairwise self-join is ≤ m² rows at any corpus size.
    */
  def rankCorrelation(s: SparkSession, d: String,
      topN: Int = 20): DataFrame = {
    val (lex, sem) = fusionRankings(s, d, topN)
    val both = lex.join(sem, Seq("doc_id"))
    val pairs = both.as("a").join(both.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(((col("a.r_lex") - col("b.r_lex"))
        * (col("a.r_sem") - col("b.r_sem"))).as("prod"))
    val m = both.agg(count(lit(1)).as("m"))
    pairs
      .agg(count(when(col("prod") > 0, true)).as("concordant"),
        count(when(col("prod") < 0, true)).as("discordant"))
      .crossJoin(broadcast(m))
      .select(col("m"), col("concordant"), col("discordant"),
        // NULL below 2 overlapping docs (0 pairs) instead of a
        // divide-by-zero under ANSI mode — mirrored by the oracle's
        // NULLIF denominator
        when(col("m") >= 2,
          round((col("concordant") - col("discordant")).cast("double")
            / (col("m") * (col("m") - 1) / 2).cast("double"), 4))
          .as("tau"))
  }

  /** q175: reciprocal-rank fusion (Cormack et al. 2009) of the two
    * retrieval modalities the registry already serves — the lexical
    * BM25 ranking (q103's scorer) and the embedding cosine ranking
    * (q30's scorer, query = vector 0, vec_id ≡ doc_id) — into one
    * hybrid top-10: RRF(d) = Σ_modality 1/(60 + rank_modality(d)).
    *
    * Determinism: ranks are integers with total tie-breaks
    * (score desc, doc_id), each doc's RRF score is at most TWO double
    * terms combined in one fixed expression — no variable-order float
    * accumulation anywhere.
    *
    * Scale shape: each modality reduces corpus-sized scoring to a
    * top-20 via TakeOrderedAndProject (no global sort); the
    * single-partition row_number windows run on those 20-row lists —
    * bounded by the fusion width, not the corpus — and the fusion
    * join is 20×20 at any scale.
    */
  /** The two top-`topN` retrieval rankings q175/q188 compare: lexical
    * (BM25) and semantic (cosine vs vector 0), each rank-numbered
    * inside its bounded top list.
    */
  /** Memo-CACHED per (session, sf dir, topN) — q175 AND q188 consume
    * the IDENTICAL pair of rankings, and each ranking costs a full
    * corpus pass (BM25 tokenize+score / embedding cosine scan) to
    * produce ≤ topN rows. One fill per session instead of one per
    * consumer (guide §1.2; the pairCounts/dblVecs shared-stage
    * convention: pass 1 pays the fill, CacheRegistry clears it).
    */
  private val fusionMemo = new Memo[
    (SparkSession, String, Int), (DataFrame, DataFrame)]
  private[graft] def fusionRankings(s: SparkSession, d: String,
      topN: Int): (DataFrame, DataFrame) =
    fusionMemo((s, d, topN)) {
      val (lex, sem) = fusionRankingsUncached(s, d, topN)
      (graft.util.CacheRegistry.register(lex.cache()),
        graft.util.CacheRegistry.register(sem.cache()))
    }

  private def fusionRankingsUncached(s: SparkSession, d: String,
      topN: Int): (DataFrame, DataFrame) = {
    val lexTop = bm25Scores(s, d, Seq("hash", "join", "scan"), 1.2, 0.75)
      .orderBy(col("score").desc, col("doc_id")).limit(topN)
    val wLex = Window.orderBy(col("score").desc, col("doc_id"))
    val lex = lexTop
      .withColumn("r_lex", row_number().over(wLex).cast("long"))
      .select(col("doc_id"), col("r_lex"))
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") === 0L).select(col("embedding").as("qe"))
    val semTop = e.crossJoin(broadcast(q))
      .withColumn("cos", graft.functions.CosineSimilarity
        .cosineSimilarity(col("embedding"), col("qe")))
      .orderBy(col("cos").desc, col("vec_id")).limit(topN)
    val wSem = Window.orderBy(col("cos").desc, col("vec_id"))
    val sem = semTop
      .withColumn("r_sem", row_number().over(wSem).cast("long"))
      .select(col("vec_id").as("doc_id"), col("r_sem"))
    (lex, sem)
  }

  def rrfFusion(s: SparkSession, d: String,
      kRrf: Int = 60, topN: Int = 20): DataFrame = {
    val (lex, sem) = fusionRankings(s, d, topN)
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("r_lex"), lit(0L)).as("r_lex"),
        coalesce(col("r_sem"), lit(0L)).as("r_sem"),
        round(
          when(col("r_lex").isNotNull,
            lit(1.0) / (col("r_lex") + kRrf)).otherwise(lit(0.0)) +
          when(col("r_sem").isNotNull,
            lit(1.0) / (col("r_sem") + kRrf)).otherwise(lit(0.0)), 6)
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
  }

  /** Shared winnowing-selection CTE chain (q209/q210): gram hashes →
    * rightmost-min string keys → full-window minima → distinct
    * selected fingerprints. Constants (k=3, w=4, 15-hex-digit hash,
    * 9999999 position complement) must stay in lockstep with
    * winnowSelected above.
    */
  private val WinnowCtes =
    """ws AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws
      |       FROM documents),
      |g AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |    ('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
      |             1, 15))::BIGINT AS h
      |  FROM ws, UNNEST(range(1, len(ws) - 1)) AS t(i)
      |  WHERE len(ws) >= 3),
      |k AS (SELECT doc_id, pos,
      |        printf('%015x|%07d', h, 9999999 - pos) AS skey
      |      FROM g),
      |ng AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
      |       FROM g GROUP BY 1),
      |win AS (SELECT doc_id, pos, skey,
      |         min(skey) OVER (PARTITION BY doc_id ORDER BY pos
      |                         ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
      |           AS mkey
      |       FROM k),
      |sel AS (
      |  SELECT DISTINCT win.doc_id, ng.n_grams, mkey
      |  FROM win JOIN ng ON ng.doc_id = win.doc_id
      |  WHERE pos + 3 <= ng.n_grams OR pos = 1),
      |fps AS (SELECT doc_id, n_grams,
      |         ('0x' || substr(mkey, 1, 15))::BIGINT AS fp
      |       FROM sel)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q248_kwic" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS word,
        |    generate_subscripts(regexp_split_to_array(text, '\s+'), 1) AS pos
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, pos, word,
        |    lag(word, 2) OVER w AS m2, lag(word, 1) OVER w AS m1,
        |    lead(word, 1) OVER w AS p1, lead(word, 2) OVER w AS p2
        |  FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |c AS (
        |  SELECT coalesce(m2, '^') || ' ' || coalesce(m1, '^') || ' ' || word
        |    || ' ' || coalesce(p1, '$') || ' ' || coalesce(p2, '$') AS context
        |  FROM n WHERE word = 'key')
        |SELECT context, CAST(count(*) AS BIGINT) AS n
        |FROM c GROUP BY 1
        |ORDER BY n DESC, context
        |LIMIT 20""".stripMargin,
    "q231_ngram_novelty" ->
      """WITH ws AS (
        |  SELECT doc_id, lang, regexp_split_to_array(text, '\s+') AS w
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, lang,
        |    unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |            for i in range(1, len(w) - 1)]) AS gram
        |  FROM ws WHERE len(w) >= 3),
        |df AS (SELECT gram, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY 1),
        |pd AS (
        |  SELECT g.doc_id, g.lang, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_unique
        |  FROM g JOIN df USING (gram)
        |  GROUP BY 1, 2),
        |q AS (
        |  SELECT lang, n_grams, n_unique,
        |    CAST(floor(CAST(n_unique AS DOUBLE) / CAST(n_grams AS DOUBLE)
        |      * 1000000 + 0.5) AS BIGINT) AS nu
        |  FROM pd)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_grams) AS BIGINT) AS total_grams,
        |  CAST(sum(n_unique) AS BIGINT) AS unique_grams,
        |  round(CAST(sum(nu) AS DOUBLE)
        |    / (CAST(count(*) AS DOUBLE) * 1000000), 6) AS mean_novelty
        |FROM q GROUP BY 1 ORDER BY lang""".stripMargin,
    "q219_readability" ->
      """WITH perdoc AS (
        |  SELECT lang,
        |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS w,
        |    CAST(list_sum([len(regexp_extract_all(x, '[aeiouy]+'))
        |      for x in regexp_split_to_array(text, '\s+')]) AS BIGINT) AS sy,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> len(regexp_extract_all(x, '[aeiouy]+')) = 1)) AS BIGINT)
        |      AS mono
        |  FROM documents),
        |agg AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(w) AS BIGINT) AS n_words,
        |    CAST(sum(sy) AS BIGINT) AS n_syllables,
        |    CAST(sum(mono) AS BIGINT) AS n_mono
        |  FROM perdoc GROUP BY 1)
        |SELECT lang, n_docs, n_words, n_syllables, n_mono,
        |  round(CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
        |    AS syll_per_word,
        |  round(CAST(n_mono AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
        |    AS mono_share,
        |  round(20.0 - (150.0 * CAST(n_mono AS DOUBLE)
        |    / CAST(n_words AS DOUBLE)) / 10.0, 6) AS forcast_grade
        |FROM agg ORDER BY lang""".stripMargin,
    "q211_heaps_law" ->
      """WITH dw AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                w -> len(w) > 0) AS wsl
        |  FROM documents),
        |cnt AS (SELECT doc_id, CAST(len(wsl) AS BIGINT) AS nt FROM dw),
        |fo AS (
        |  SELECT word, min(doc_id) AS fd
        |  FROM (SELECT doc_id, unnest(wsl) AS word FROM dw)
        |  GROUP BY 1),
        |nwt AS (SELECT fd AS doc_id, CAST(count(*) AS BIGINT) AS nw
        |        FROM fo GROUP BY 1),
        |base AS (
        |  SELECT cnt.doc_id, cnt.nt, COALESCE(nwt.nw, 0) AS nw
        |  FROM cnt LEFT JOIN nwt ON nwt.doc_id = cnt.doc_id),
        |cum AS (
        |  SELECT
        |    sum(nt) OVER (ORDER BY doc_id
        |                  ROWS UNBOUNDED PRECEDING) AS t,
        |    sum(nw) OVER (ORDER BY doc_id
        |                  ROWS UNBOUNDED PRECEDING) AS v
        |  FROM base),
        |m AS (
        |  SELECT CAST(floor(ln(t) * 1000000 + 0.5) AS BIGINT) AS x,
        |         CAST(floor(ln(v) * 1000000 + 0.5) AS BIGINT) AS y
        |  FROM cum WHERE t >= 1 AND v >= 1),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    sum(CAST(x AS DECIMAL(19,0))) AS sx,
        |    sum(CAST(y AS DECIMAL(19,0))) AS sy,
        |    sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS sxy,
        |    sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx
        |  FROM m)
        |SELECT n_docs,
        |  CASE WHEN CAST(n_docs AS DOUBLE) * CAST(sxx AS DOUBLE)
        |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0 THEN
        |    round((CAST(n_docs AS DOUBLE) * CAST(sxy AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |          / (CAST(n_docs AS DOUBLE) * CAST(sxx AS DOUBLE)
        |             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) END AS beta,
        |  CASE WHEN CAST(n_docs AS DOUBLE) * CAST(sxx AS DOUBLE)
        |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0 THEN
        |    round((CAST(sy AS DOUBLE)
        |           - ((CAST(n_docs AS DOUBLE) * CAST(sxy AS DOUBLE)
        |               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |              / (CAST(n_docs AS DOUBLE) * CAST(sxx AS DOUBLE)
        |                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
        |             * CAST(sx AS DOUBLE))
        |          / (CAST(n_docs AS DOUBLE) * 1000000), 6) END AS ln_k
        |FROM a""".stripMargin,
    "q209_winnow_profile" ->
      s"""WITH $WinnowCtes
         |SELECT doc_id, n_grams, CAST(count(*) AS BIGINT) AS n_fp,
         |  round(CAST(count(*) AS DOUBLE) / n_grams, 4) AS density
         |FROM fps GROUP BY doc_id, n_grams
         |ORDER BY doc_id""".stripMargin,
    "q210_winnow_pairs" ->
      s"""WITH $WinnowCtes,
         |dfp AS (SELECT DISTINCT doc_id, fp FROM fps),
         |rfp AS (SELECT fp FROM dfp GROUP BY fp HAVING count(*) <= 20),
         |rare AS (SELECT dfp.doc_id, dfp.fp FROM dfp JOIN rfp ON rfp.fp = dfp.fp),
         |nfp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nfp
         |        FROM dfp GROUP BY 1),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |        CAST(count(*) AS BIGINT) AS shared
         |      FROM rare a JOIN rare b
         |        ON b.fp = a.fp AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2)
         |SELECT doc_a, doc_b, shared,
         |  round(CAST(shared AS DOUBLE) / least(na.nfp, nb.nfp), 4) AS sim
         |FROM p
         |JOIN nfp na ON na.doc_id = doc_a
         |JOIN nfp nb ON nb.doc_id = doc_b
         |ORDER BY shared DESC, doc_a, doc_b
         |LIMIT 10""".stripMargin,
    "q188_rank_corr" ->
      """WITH docs AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws
        |  FROM documents),
        |stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |         avg(CAST(len(ws) AS DOUBLE)) AS avgdl
        |  FROM docs),
        |tf AS (
        |  SELECT doc_id, dl, word, CAST(count(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl,
        |               lower(unnest(ws)) AS word
        |        FROM docs)
        |  WHERE word IN ('hash', 'join', 'scan')
        |  GROUP BY 1, 2, 3),
        |df AS (SELECT word, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT doc_id,
        |    sum(ln(1 + (n - df + 0.5) / (df + 0.5))
        |        * tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      AS score
        |  FROM tf JOIN df USING (word) CROSS JOIN stats
        |  GROUP BY doc_id),
        |lex AS (
        |  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id)
        |    AS BIGINT) AS r_lex
        |  FROM scored ORDER BY score DESC, doc_id LIMIT 20),
        |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |cs AS (
        |  SELECT e.vec_id AS doc_id,
        |    list_sum([CAST(qe[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |              for i in range(1, len(qe) + 1)])
        |    / (sqrt(list_sum([CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
        |                      for i in range(1, len(qe) + 1)]))
        |       * sqrt(list_sum([CAST(embedding[i] AS DOUBLE)
        |                        * CAST(embedding[i] AS DOUBLE)
        |                        for i in range(1, len(embedding) + 1)]))) AS cos
        |  FROM embeddings e CROSS JOIN qv),
        |sem AS (
        |  SELECT doc_id, CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
        |    AS BIGINT) AS r_sem
        |  FROM cs ORDER BY cos DESC, doc_id LIMIT 20),
        |bt AS (SELECT doc_id, r_lex, r_sem FROM lex JOIN sem USING (doc_id)),
        |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM bt),
        |p AS (
        |  SELECT (a.r_lex - b.r_lex) * (a.r_sem - b.r_sem) AS prod
        |  FROM bt a JOIN bt b ON a.doc_id < b.doc_id),
        |pa AS (
        |  SELECT CAST(count(*) FILTER (WHERE prod > 0) AS BIGINT) AS concordant,
        |         CAST(count(*) FILTER (WHERE prod < 0) AS BIGINT) AS discordant
        |  FROM p)
        |SELECT mm.m, pa.concordant, pa.discordant,
        |  round(CAST(pa.concordant - pa.discordant AS DOUBLE)
        |    / NULLIF(mm.m * (mm.m - 1) / 2, 0), 4) AS tau
        |FROM pa CROSS JOIN mm""".stripMargin,
    "q175_rrf_fusion" ->
      """WITH docs AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws
        |  FROM documents),
        |stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |         avg(CAST(len(ws) AS DOUBLE)) AS avgdl
        |  FROM docs),
        |tf AS (
        |  SELECT doc_id, dl, word, CAST(count(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl,
        |               lower(unnest(ws)) AS word
        |        FROM docs)
        |  WHERE word IN ('hash', 'join', 'scan')
        |  GROUP BY 1, 2, 3),
        |df AS (SELECT word, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT doc_id,
        |    sum(ln(1 + (n - df + 0.5) / (df + 0.5))
        |        * tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      AS score
        |  FROM tf JOIN df USING (word) CROSS JOIN stats
        |  GROUP BY doc_id),
        |lex AS (
        |  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id)
        |    AS BIGINT) AS r_lex
        |  FROM scored ORDER BY score DESC, doc_id LIMIT 20),
        |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |cs AS (
        |  SELECT e.vec_id AS doc_id,
        |    list_sum([CAST(qe[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |              for i in range(1, len(qe) + 1)])
        |    / (sqrt(list_sum([CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
        |                      for i in range(1, len(qe) + 1)]))
        |       * sqrt(list_sum([CAST(embedding[i] AS DOUBLE)
        |                        * CAST(embedding[i] AS DOUBLE)
        |                        for i in range(1, len(embedding) + 1)]))) AS cos
        |  FROM embeddings e CROSS JOIN qv),
        |sem AS (
        |  SELECT doc_id, CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
        |    AS BIGINT) AS r_sem
        |  FROM cs ORDER BY cos DESC, doc_id LIMIT 20)
        |SELECT doc_id,
        |  coalesce(r_lex, 0) AS r_lex,
        |  coalesce(r_sem, 0) AS r_sem,
        |  round(CASE WHEN r_lex IS NOT NULL THEN 1.0 / (r_lex + 60) ELSE 0 END
        |      + CASE WHEN r_sem IS NOT NULL THEN 1.0 / (r_sem + 60) ELSE 0 END,
        |      6) AS rrf
        |FROM lex FULL OUTER JOIN sem USING (doc_id)
        |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
    "q163_quantile_norm" ->
      """WITH t AS (
        |  SELECT doc_id, lang, regexp_split_to_array(text, '\s+') AS toks
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS DOUBLE)
        |      / CAST(len(toks) AS DOUBLE) AS score
        |  FROM t),
        |n AS (SELECT count(*) AS n FROM sc),
        |g AS (SELECT score AS gscore,
        |        row_number() OVER (ORDER BY score, doc_id) AS rn
        |      FROM sc),
        |pr AS (
        |  SELECT doc_id, lang, score,
        |    percent_rank() OVER (PARTITION BY lang ORDER BY score) AS pr
        |  FROM sc),
        |k AS (
        |  SELECT doc_id, lang, score,
        |    pr * (n.n - 1) AS r,
        |    CAST(floor(pr * (n.n - 1)) AS BIGINT) AS k,
        |    pr * (n.n - 1) - floor(pr * (n.n - 1)) AS frac
        |  FROM pr CROSS JOIN n)
        |SELECT k.doc_id, k.lang, round(k.score, 6) AS score,
        |  round(lo.gscore
        |        + (coalesce(hi.gscore, lo.gscore) - lo.gscore) * frac, 6)
        |    AS norm_score
        |FROM k
        |JOIN g lo ON lo.rn = k.k + 1
        |LEFT JOIN g hi ON hi.rn = k.k + 2
        |ORDER BY k.doc_id""".stripMargin,
    "q160_lexical_diversity" ->
      """WITH t AS (
        |  SELECT lang, unnest(regexp_split_to_array(text, '\s+')) AS w
        |  FROM documents),
        |c AS (SELECT lang, w, count(*) AS c FROM t WHERE len(w) > 0
        |      GROUP BY lang, w),
        |a AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
        |        count(*) AS vocab, CAST(sum(c * c) AS BIGINT) AS sum_sq
        |      FROM c GROUP BY lang)
        |SELECT lang, n_tokens, vocab, sum_sq,
        |  round(CAST(vocab AS DOUBLE) / n_tokens, 6) AS ttr,
        |  round(1.0 - CAST(sum_sq AS DOUBLE)
        |        / (CAST(n_tokens AS DOUBLE) * n_tokens), 6) AS simpson,
        |  round(CAST(n_tokens AS DOUBLE) * n_tokens / sum_sq, 4) AS eff_vocab
        |FROM a
        |ORDER BY lang""".stripMargin,
    "q104_textrank" ->
      """WITH docs AS (
        |  SELECT [lower(x) for x in regexp_split_to_array(text, '\s+')] AS ws
        |  FROM documents),
        |e AS (
        |  SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
        |  FROM (SELECT unnest([{'src': ws[i], 'dst': ws[i+1]}
        |                       for i in range(1, len(ws))],
        |                      recursive := true)
        |        FROM docs)
        |  GROUP BY 1, 2),
        |norm AS (
        |  SELECT src, dst, w / sum(w) OVER (PARTITION BY src) AS p FROM e),
        |nodes AS (
        |  SELECT DISTINCT word
        |  FROM (SELECT src AS word FROM e UNION ALL SELECT dst FROM e)),
        |nv AS (SELECT CAST(count(*) AS DOUBLE) AS nv FROM nodes),
        |r0 AS (SELECT word, 1.0 / nv AS score FROM nodes CROSS JOIN nv),
        |r1 AS (
        |  SELECT nodes.word,
        |    0.15 / (SELECT nv FROM nv) + 0.85 * coalesce(c.c, 0) AS score
        |  FROM nodes LEFT JOIN (
        |    SELECT norm.dst AS word, sum(norm.p * r0.score) AS c
        |    FROM norm JOIN r0 ON r0.word = norm.src GROUP BY 1) c
        |  USING (word)),
        |r2 AS (
        |  SELECT nodes.word,
        |    0.15 / (SELECT nv FROM nv) + 0.85 * coalesce(c.c, 0) AS score
        |  FROM nodes LEFT JOIN (
        |    SELECT norm.dst AS word, sum(norm.p * r1.score) AS c
        |    FROM norm JOIN r1 ON r1.word = norm.src GROUP BY 1) c
        |  USING (word)),
        |r3 AS (
        |  SELECT nodes.word,
        |    0.15 / (SELECT nv FROM nv) + 0.85 * coalesce(c.c, 0) AS score
        |  FROM nodes LEFT JOIN (
        |    SELECT norm.dst AS word, sum(norm.p * r2.score) AS c
        |    FROM norm JOIN r2 ON r2.word = norm.src GROUP BY 1) c
        |  USING (word))
        |SELECT word, round(score, 6) AS rank
        |FROM r3
        |ORDER BY score DESC, word
        |LIMIT 20""".stripMargin,
    "q103_bm25" ->
      """WITH docs AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws
        |  FROM documents),
        |stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |         avg(CAST(len(ws) AS DOUBLE)) AS avgdl
        |  FROM docs),
        |tf AS (
        |  SELECT doc_id, dl, word, CAST(count(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl,
        |               lower(unnest(ws)) AS word
        |        FROM docs)
        |  WHERE word IN ('hash', 'join', 'scan')
        |  GROUP BY 1, 2, 3),
        |df AS (SELECT word, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT doc_id,
        |    sum(ln(1 + (n - df + 0.5) / (df + 0.5))
        |        * tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      AS score
        |  FROM tf JOIN df USING (word) CROSS JOIN stats
        |  GROUP BY doc_id)
        |SELECT doc_id, round(score, 4) AS bm25
        |FROM scored
        |ORDER BY score DESC, doc_id
        |LIMIT 10""".stripMargin,
    "q36_approx_distinct" ->
      """SELECT lang, count(DISTINCT word) AS exact_words, TRUE AS approx_ok
        |FROM (SELECT lang, unnest(regexp_split_to_array(text, '\s+')) AS word
        |      FROM documents)
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,
    "q72_redact" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_digit_runs,
        |  md5(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '[0-9]+', '#', 'g')) AS redacted_fp
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q73_chunking" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws FROM documents),
        |n AS (
        |  SELECT doc_id, ws,
        |    greatest(CAST(ceil((len(ws) - 50) / 40.0) AS BIGINT) + 1, 1) AS n_chunks
        |  FROM w),
        |c AS (
        |  SELECT doc_id, ws, unnest(range(0, n_chunks)) AS chunk_no FROM n),
        |t AS (
        |  SELECT doc_id, chunk_no,
        |    array_to_string(ws[(chunk_no * 40 + 1):(chunk_no * 40 + 50)], ' ') AS chunk
        |  FROM c)
        |SELECT doc_id, chunk_no,
        |  CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_tokens,
        |  md5(chunk) AS chunk_fp
        |FROM t
        |ORDER BY doc_id, chunk_no""".stripMargin,
    "q61_normalize_text" ->
      """WITH n AS (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9\x{0080}-\x{FFFF} \t\n\r]', ' ', 'g'),
        |    '[ \t\n\r]+', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT doc_id, CAST(length(norm) AS BIGINT) AS n_chars_norm,
        |  md5(norm) AS norm_fp
        |FROM n
        |ORDER BY doc_id""".stripMargin,
    // same histogram-interpolation formula as the engine (NOT
    // quantile_cont — full control of the float arithmetic); sums of
    // BIGINT cast back per the HUGEINT discipline
    "q142_quality_gate" ->
      """WITH t AS (
        |  SELECT lang, regexp_split_to_array(text, '\s+') AS toks
        |  FROM documents),
        |sc AS (
        |  SELECT lang,
        |    CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS DOUBLE)
        |      / CAST(len(toks) AS DOUBLE) AS score
        |  FROM t),
        |h AS (SELECT lang, score, count(*) AS c FROM sc GROUP BY 1, 2),
        |cu AS (
        |  SELECT lang, score, c,
        |    CAST(sum(c) OVER (PARTITION BY lang ORDER BY score) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS n
        |  FROM h),
        |ex AS (
        |  SELECT lang, score, c, cum, n,
        |    CAST(n - 1 AS DOUBLE) * 0.25 AS r,
        |    floor(CAST(n - 1 AS DOUBLE) * 0.25) AS k
        |  FROM cu),
        |cut AS (
        |  SELECT lang, max(n) AS n_docs,
        |    min(CASE WHEN cum >= k + 1 THEN score END) AS vlo,
        |    min(CASE WHEN cum >= k + 2 THEN score END) AS vhi,
        |    max(r - k) AS frac
        |  FROM ex GROUP BY lang),
        |cc AS (
        |  SELECT lang, n_docs,
        |    vlo + (COALESCE(vhi, vlo) - vlo) * frac AS cutoff
        |  FROM cut)
        |SELECT h.lang, max(cc.n_docs) AS n_docs,
        |  round(max(cc.cutoff), 6) AS cutoff,
        |  CAST(sum(CASE WHEN h.score >= cc.cutoff THEN h.c ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  max(cc.n_docs)
        |    - CAST(sum(CASE WHEN h.score >= cc.cutoff THEN h.c ELSE 0 END) AS BIGINT)
        |    AS n_dropped
        |FROM h JOIN cc ON cc.lang = h.lang
        |GROUP BY h.lang
        |ORDER BY h.lang""".stripMargin,
    "q62_quality_filter" ->
      """WITH t AS (
        |  SELECT doc_id, n_chars, regexp_split_to_array(text, '\s+') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, len(toks) AS n_tokens,
        |    len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS n_stop, n_chars
        |  FROM t)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CASE WHEN n_tokens < 5 THEN 'too_short'
        |       WHEN n_chars > 20000 THEN 'too_long'
        |       WHEN n_stop * 20 < n_tokens THEN 'low_stopword'
        |       ELSE 'keep' END AS verdict
        |FROM m
        |ORDER BY doc_id""".stripMargin,
    // argmax over the five stopword scores; ties resolved to the
    // lexicographically largest lang, matching Spark's greatest() over
    // (score, lang) structs
    "q25_lang_id" ->
      """WITH t AS (
        |  SELECT doc_id, lang AS labeled_lang,
        |    regexp_split_to_array(text, '\s+') AS toks
        |  FROM documents),
        |scores AS (
        |  SELECT doc_id, labeled_lang, (s).lang AS lang, (s).score AS score
        |  FROM t, UNNEST([
        |    struct_pack(lang := 'en', score := len(list_filter(toks, x -> list_contains(['the','a','of','and'], x)))),
        |    struct_pack(lang := 'de', score := len(list_filter(toks, x -> list_contains(['der','die','das','und'], x)))),
        |    struct_pack(lang := 'es', score := len(list_filter(toks, x -> list_contains(['el','la','de','y'], x)))),
        |    struct_pack(lang := 'fr', score := len(list_filter(toks, x -> list_contains(['le','la','de','et'], x)))),
        |    struct_pack(lang := 'zh', score := len(list_filter(toks, x -> list_contains(['的','是','了','在'], x))))
        |  ]) AS u(s)),
        |ranked AS (
        |  SELECT doc_id, labeled_lang, lang,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
        |  FROM scores)
        |SELECT doc_id, labeled_lang, lang AS predicted_lang
        |FROM ranked WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,
    "q207_langid_eval" ->
      """WITH t AS (
        |  SELECT doc_id, lang AS labeled_lang,
        |    regexp_split_to_array(text, '\s+') AS toks
        |  FROM documents),
        |scores AS (
        |  SELECT doc_id, labeled_lang, (s).lang AS lang, (s).score AS score
        |  FROM t, UNNEST([
        |    struct_pack(lang := 'en', score := len(list_filter(toks, x -> list_contains(['the','a','of','and'], x)))),
        |    struct_pack(lang := 'de', score := len(list_filter(toks, x -> list_contains(['der','die','das','und'], x)))),
        |    struct_pack(lang := 'es', score := len(list_filter(toks, x -> list_contains(['el','la','de','y'], x)))),
        |    struct_pack(lang := 'fr', score := len(list_filter(toks, x -> list_contains(['le','la','de','et'], x)))),
        |    struct_pack(lang := 'zh', score := len(list_filter(toks, x -> list_contains(['的','是','了','在'], x))))
        |  ]) AS u(s)),
        |ranked AS (
        |  SELECT doc_id, labeled_lang, lang,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
        |  FROM scores),
        |preds AS (
        |  SELECT doc_id, labeled_lang, lang AS predicted_lang
        |  FROM ranked WHERE rn = 1),
        |sup AS (SELECT labeled_lang AS lang, CAST(count(*) AS BIGINT) AS support
        |        FROM preds GROUP BY 1),
        |prd AS (SELECT predicted_lang AS lang, CAST(count(*) AS BIGINT) AS predicted
        |        FROM preds GROUP BY 1),
        |tpc AS (SELECT labeled_lang AS lang, CAST(count(*) AS BIGINT) AS tp
        |        FROM preds WHERE labeled_lang = predicted_lang GROUP BY 1),
        |j AS (
        |  SELECT COALESCE(sup.lang, prd.lang, tpc.lang) AS lang,
        |    COALESCE(support, 0) AS support,
        |    COALESCE(predicted, 0) AS predicted,
        |    COALESCE(tp, 0) AS tp
        |  FROM sup
        |  FULL OUTER JOIN prd ON prd.lang = sup.lang
        |  FULL OUTER JOIN tpc ON tpc.lang = COALESCE(sup.lang, prd.lang))
        |SELECT lang, support, predicted, tp,
        |  CASE WHEN predicted > 0
        |    THEN round(CAST(tp AS DOUBLE) / predicted, 6) END AS precision,
        |  CASE WHEN support > 0
        |    THEN round(CAST(tp AS DOUBLE) / support, 6) END AS recall,
        |  CASE WHEN predicted > 0 AND support > 0 AND tp > 0
        |    THEN round(2.0 * (CAST(tp AS DOUBLE) / predicted) * (CAST(tp AS DOUBLE) / support)
        |               / ((CAST(tp AS DOUBLE) / predicted) + (CAST(tp AS DOUBLE) / support)), 6)
        |  END AS f1
        |FROM j ORDER BY lang""".stripMargin,
    "q39_token_estimate" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_ \t\n\r]')) AS n_pieces,
        |    length(text) AS n_len
        |  FROM documents)
        |SELECT doc_id, n_pieces,
        |  round(CAST(n_len AS DOUBLE) / greatest(n_pieces, 1), 4) AS chars_per_piece
        |FROM t
        |ORDER BY doc_id""".stripMargin,
    "q35_tfidf_top_term" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS word
        |  FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM words GROUP BY 1, 2),
        |df AS (SELECT word, count(*) AS df
        |       FROM (SELECT DISTINCT doc_id, word FROM words) GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, word, tf * ln(CAST(n.n AS DOUBLE) / df) AS tfidf
        |  FROM tf JOIN df USING (word) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, word, tfidf,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rn
        |  FROM scored)
        |SELECT doc_id, word AS top_term, round(tfidf, 4) AS tfidf
        |FROM ranked WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,
    "q20_doc_tokens" ->
      """SELECT doc_id,
        |  len(regexp_split_to_array(text, '\s+')) AS n_tokens,
        |  length(text) AS len_chars,
        |  n_chars
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q21_word_freq" ->
      """SELECT lower(word) AS word, count(*) AS cnt
        |FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word
        |      FROM documents)
        |GROUP BY 1
        |ORDER BY cnt DESC, word
        |LIMIT 30""".stripMargin,
    "q22_lang_quality" ->
      """WITH t AS (
        |  SELECT lang,
        |    len(regexp_split_to_array(text, '\s+')) AS n_tokens,
        |    len(list_filter(regexp_split_to_array(text, '\s+'),
        |        x -> x = 'the' OR x = 'a')) AS n_stop,
        |    n_chars
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  round(avg(n_tokens), 2) AS avg_tokens,
        |  round(CAST(sum(n_stop) AS DOUBLE) / sum(n_tokens), 4) AS stop_ratio,
        |  round(avg(n_chars), 2) AS avg_chars
        |FROM t
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,
    "q23_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp, length(text) AS len_chars
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q24_ngram_freq" ->
      """WITH w AS (SELECT regexp_split_to_array(text, '\s+') AS ws FROM documents),
        |g AS (SELECT unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |                     for i in range(1, len(ws) - 1)]) AS ngram
        |      FROM w)
        |SELECT ngram, count(*) AS cnt
        |FROM g
        |GROUP BY ngram
        |ORDER BY cnt DESC, ngram
        |LIMIT 20""".stripMargin,
  )
}
