package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.util.Tables._

/** Similarity search over the `embeddings` table (64-dim float
  * vectors): brute-force cosine top-k as the oracle-checked baseline,
  * and a random-hyperplane LSH-bucketed ANN variant as the scale path
  * (recall-tested against the brute-force answer in SimilaritySpec).
  *
  * Numeric parity: every dot product/norm is computed as double, in
  * list order, on both engines (Spark `aggregate` HOF vs DuckDB list
  * comprehension + list_sum), so cosine values are bit-identical and
  * the rank output needs no float columns at all.
  *
  * Scale shape: brute force is queries × corpus — fine when the query
  * side is small enough to broadcast (it is, by construction). The LSH
  * variant buckets the corpus once (narrow, codegen'd sign bits),
  * shuffles only (bucket, id, vec), and does per-bucket local top-k —
  * the pattern that survives a 100 TB corpus where crossJoin cannot.
  */
object Similarity {

  private def sumDouble(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, x) => acc + x)

  private def norm(a: Column): Column =
    sqrt(sumDouble(transform(a, x => x.cast("double") * x.cast("double"))))

  /** Codegen'd one-pass cosine (graft.functions.CosineSimilarity) —
    * bit-identical to the HOF dot/norm composition (same per-element
    * accumulation order in double), which the DuckDB oracle re-proves
    * on every run.
    */
  private def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity.cosineSimilarity(a, b)

  /** Brute-force cosine top-5 neighbors for query vectors (vec_id<10). */
  def knnBrute(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
    val q = e.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .filter(col("query_id") < 10)
    val scored = broadcast(q)
      .join(e, col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qe"), col("embedding")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Per-vector stats: dimension + L2 norm (rounded). */
  def embeddingStats(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("vec_id"), col("label"),
        size(col("embedding")).cast("long").as("dim"),
        round(norm(col("embedding")), 4).as("l2_norm"))
      .orderBy(col("vec_id"))

  /** splitmix64 finalizer — the per-component hyperplane hash. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Random-hyperplane LSH ANN, multi-table (standard L×b construction:
    * L independent tables of b sign bits; candidates = union over
    * tables of same-bucket vectors, then exact scoring). Hyperplanes
    * are deterministic ±1 vectors: component (p, j) is the sign bit of
    * splitmix64(p·131071 + j). Approximate by design → no SQL oracle;
    * OpsSpec checks the candidates are real neighbors and reports
    * recall vs knnBrute.
    *
    * The 32 sign-bit dot products per vector run in a typed
    * mapPartitions, not HOF columns: the lambda form evaluates
    * interpreted (~nPlanes·dim boxed ops per vector — measured ~2 s at
    * sf0.1), while this loop JITs to straight-line float math.
    *
    * Scale: corpus is expanded ×L (bucket, id) — narrow stage — and
    * only equi-joined on bucket; no crossJoin anywhere.
    */
  def annLsh(s: SparkSession, d: String, nBits: Int = 6, nTables: Int = 16,
      k: Int = 5): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
    val bucketed = e.as[(Long, Array[Float])].mapPartitions { it =>
      it.flatMap { case (id, vec) =>
        (0 until nTables).iterator.map { t =>
          val sb = new java.lang.StringBuilder(nBits + 4)
          sb.append(t).append(':')
          var b = 0
          while (b < nBits) {
            val p = t * nBits + b
            var dot = 0.0
            var j = 0
            while (j < vec.length) {
              val sign = if ((mix64(p * 131071L + j) >>> 63) == 0L) 1.0 else -1.0
              dot += vec(j) * sign
              j += 1
            }
            sb.append(if (dot >= 0) '1' else '0')
            b += 1
          }
          (id, sb.toString)
        }
      }
    }.toDF("vec_id", "bucket").cache()
    graft.util.CacheRegistry.register(bucketed)
    val q = bucketed
      .select(col("vec_id").as("query_id"), col("bucket"))
      .filter(col("query_id") < 10)
    val candidates = broadcast(q)
      .join(bucketed, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id")).distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    candidates
      .join(e.select(col("vec_id").as("query_id"), col("embedding").as("qe")), Seq("query_id"))
      .join(e, Seq("vec_id"))
      .withColumn("cos", cosine(col("qe"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Exact all-pairs cosine above a floor, as a DISTRIBUTED block-pair
    * sweep — no driver-side corpus materialization anywhere:
    *
    *  1. vectors are hash-assigned to ⌈n/blockRows⌉ blocks and packed
    *     into one sorted array row per block (a narrow groupBy);
    *  2. each block replicates itself to every unordered block pair
    *     (i ≤ j) it participates in — shuffle volume O(n·√pairs), the
    *     standard triangle-replication join for all-pairs problems;
    *  3. each (i, j) task receives exactly its two blocks (one when
    *     i = j) and runs the tight primitive-array loop over their
    *     cross/within pairs with precomputed norms.
    *
    * Task memory is two blocks (~blockRows·dim floats), independent of
    * corpus size, so the sweep survives any corpus that the O(n²)
    * COMPUTE itself survives. Exact all-pairs is inherently quadratic —
    * at true 100 TB the same ≥-threshold decision consumes the LSH
    * (q27/q31) or IVF (q52) candidate sets instead; this form exists
    * because the oracle needs exact ground truth.
    *
    * The per-pair double accumulation order (index-order dot, then
    * /(na·nb)) is identical to CosineSimilarity / the DuckDB
    * list-comprehension oracle, so scores stay bit-exact, and is
    * symmetric in (a, b), so hash-blocking cannot perturb a value.
    */
  /** Scale-adaptive block count for the block-pair sweeps (guide §2:
    * partitioning must scale with the job, not a constant tuned for one
    * corpus size). ⌈n/blockRows⌉ alone leaves a small corpus in ONE
    * task — at sf0.1's 2 000 vectors the whole O(n²) sweep ran on a
    * single core. Floor the block count so the unordered block-pair
    * count b(b+1)/2 feeds ≥ 2× the session's cores, bounded below by
    * 64-row blocks so per-block packing overhead stays amortized.
    * Blocking is RESULT-INVARIANT by construction: the pair set is
    * partitioned (i ≤ j, each pair scored in exactly one task) and the
    * per-pair arithmetic is symmetric, so only task granularity moves.
    */
  private def adaptiveBlocks(s: SparkSession, n: Long, blockRows: Int): Int = {
    val byRows = math.max(1, math.ceil(n.toDouble / blockRows).toInt)
    val p = s.sparkContext.defaultParallelism
    var b = byRows
    while (b.toLong * (b + 1) / 2 < 2L * p && b.toLong * 64 < n) b += 1
    b
  }

  private[graft] def pairsAboveBlocked(s: SparkSession, d: String,
      minCos: Double, blockRows: Int = 4096): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
    val nBlocks = adaptiveBlocks(s, e.count(), blockRows)
    val packed = e
      .withColumn("blk", pmod(hash(col("vec_id")), lit(nBlocks)).cast("int"))
      .groupBy(col("blk"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("embedding")))).as("vecs"))
      .as[(Int, Array[(Long, Array[Float])])]
    val replicated = packed.flatMap { case (i, vecs) =>
      (0 until nBlocks).iterator.map { j =>
        (math.min(i, j), math.max(i, j), i, vecs)
      }
    }
    def norms(vs: Array[(Long, Array[Float])]): Array[Double] =
      vs.map { case (_, v) =>
        var n = 0.0; var k = 0
        while (k < v.length) { n += v(k).toDouble * v(k).toDouble; k += 1 }
        math.sqrt(n)
      }
    def score(a: Array[Float], b: Array[Float], na: Double, nb: Double): Double = {
      var dot = 0.0; var k = 0
      val n = math.min(a.length, b.length)
      while (k < n) { dot += a(k).toDouble * b(k).toDouble; k += 1 }
      dot / (na * nb)
    }
    replicated
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (Int, Int), it: Iterator[(Int, Int, Int, Array[(Long, Array[Float])])]) =>
        val (lo, hi) = key
        val blocks = it.toArray
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        if (lo == hi) {
          val vs = blocks.head._4 // sorted by vec_id → pairs are (a < b)
          val ns = norms(vs)
          var ai = 0
          while (ai < vs.length) {
            var bi = ai + 1
            while (bi < vs.length) {
              val c = score(vs(ai)._2, vs(bi)._2, ns(ai), ns(bi))
              if (c >= minCos) out += ((vs(ai)._1, vs(bi)._1, c))
              bi += 1
            }
            ai += 1
          }
        } else {
          // hash-blocking puts each vector in exactly one block, so the
          // two id sets are disjoint and interleave: order each cross
          // pair by id (cosine is argument-symmetric, value unchanged).
          // A block with no vectors never reaches the group: it sweeps
          // as an empty array
          val va = blocks.find(_._3 == lo).fold(Array.empty[(Long, Array[Float])])(_._4)
          val vb = blocks.find(_._3 == hi).fold(Array.empty[(Long, Array[Float])])(_._4)
          val na = norms(va); val nb = norms(vb)
          var ai = 0
          while (ai < va.length) {
            var bi = 0
            while (bi < vb.length) {
              val c = score(va(ai)._2, vb(bi)._2, na(ai), nb(bi))
              if (c >= minCos) {
                val idA = va(ai)._1; val idB = vb(bi)._1
                out += (if (idA < idB) (idA, idB, c) else (idB, idA, c))
              }
              bi += 1
            }
            ai += 1
          }
        }
        out.iterator
      }.toDF("a", "b", "cos")
  }

  /** Single-task all-pairs reference implementation — SPEC-ONLY ground
    * truth (SimilaritySpec proves pairsAboveBlocked ≡ this). Collects
    * the corpus to the driver, so it must never be reachable from
    * `SparkEntry.queries`; the registered q38/q53 run the distributed
    * block sweep above.
    */
  private[graft] def pairsAbove(s: SparkSession, d: String,
      minCos: Double): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
    val block = e.collect().sortBy(_._1)
    val norms = block.map { case (_, v) =>
      var n = 0.0; var i = 0
      while (i < v.length) { n += v(i).toDouble * v(i).toDouble; i += 1 }
      math.sqrt(n)
    }
    val bc = s.sparkContext.broadcast((block, norms))
    e.mapPartitions { it =>
      val (vecs, ns) = bc.value
      val ids = vecs.map(_._1)
      it.flatMap { case (aId, va) =>
        // this task scores aId against every higher id in the block
        val ai = java.util.Arrays.binarySearch(ids, aId)
        var naSq = 0.0; var i = 0
        while (i < va.length) { naSq += va(i).toDouble * va(i).toDouble; i += 1 }
        val na = math.sqrt(naSq)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var bi = ai + 1
        while (bi < vecs.length) {
          val vb = vecs(bi)._2
          var dot = 0.0; var j = 0
          val n = math.min(va.length, vb.length)
          while (j < n) { dot += va(j).toDouble * vb(j).toDouble; j += 1 }
          val cos = dot / (na * ns(bi))
          if (cos >= minCos) out += ((aId, vecs(bi)._1, cos))
          bi += 1
        }
        out.iterator
      }
    }.toDF("a", "b", "cos")
  }

  /** Embedding-cosine near-dup: globally most-similar vector pairs
    * (distributed block-pair scoring, then global top-k — a
    * TakeOrderedAndProject over the ≥-floor survivors, so only
    * threshold-passing pairs reach the final ordering). The dedup
    * decision at scale would consume the LSH candidates instead of all
    * pairs; the all-pairs form is the oracle-checkable ground truth.
    * The floor of 0.3 is far below any top-20 score at every sf (the
    * 20th pair sits ≈ 0.49) and only caps the emitted pair count.
    */
  def topSimilarPairs(s: SparkSession, d: String, k: Int = 20): DataFrame =
    pairsAboveBlocked(s, d, 0.3)
      .select(col("a"), col("b"), round(col("cos"), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("a"), col("b"))
      .limit(k)

  /** q226: leave-one-out k-NN label evaluation — the standard "how
    * separable are the classes under this embedding" probe run before
    * any model training: every vector is classified by the majority
    * label of its 5 nearest neighbors (cosine, itself excluded) and
    * the report is per-label accuracy. Majority ties break to the
    * smaller label, neighbor ties to the smaller vec_id — fully
    * deterministic.
    *
    * Scale shape: neighbor scoring rides the same distributed
    * block-pair sweep as q38 (task memory = two blocks, never a
    * driver collect). Exact LOO eval is inherently O(n²) in the EVAL
    * SET size — it is an evaluation op for a sampled probe set, not a
    * corpus op; at 100 TB the same vote/accuracy tail runs unchanged
    * over ANN candidates (q203's persisted IVF index) instead of the
    * exact pair sweep. Votes/accuracy are one keyed window + two
    * keyed aggregations over (vec, neighbor) pairs.
    */
  /** Per-vector top-k over the block-pair sweep with PARTIAL top-k
    * selection inside each block task: every (i, j) task emits, for
    * each of its vectors, only that vector's k best neighbors within
    * the paired block (total order (cos DESC, vec_id) — the same one
    * the global rank uses, so the global top-k is provably contained
    * in the union of the per-block top-ks: partial/final top-k, the
    * q87 TopKPerGroup contract applied to the pair stream). The
    * exchange after the sweep carries ≤ k·n·blocks rows instead of
    * the 2·n² raw pair rows — the difference between a quadratic and
    * a near-linear shuffle for exact kNN (ScaleSlopeSpec pins it).
    */
  private[graft] def knnBlocked(s: SparkSession, d: String, k: Int,
      blockRows: Int = 4096): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
    // adaptiveBlocks: see pairsAboveBlocked — the global top-k is
    // contained in the union of per-block top-ks for ANY blocking, and
    // the final (cos DESC, vec_id) window picks the same rows, so the
    // k-NN result is blocking-invariant too.
    val nBlocks = adaptiveBlocks(s, e.count(), blockRows)
    val packed = e
      .withColumn("blk", pmod(hash(col("vec_id")), lit(nBlocks)).cast("int"))
      .groupBy(col("blk"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("embedding")))).as("vecs"))
      .as[(Int, Array[(Long, Array[Float])])]
    val replicated = packed.flatMap { case (i, vecs) =>
      (0 until nBlocks).iterator.map { j =>
        (math.min(i, j), math.max(i, j), i, vecs)
      }
    }
    def norms(vs: Array[(Long, Array[Float])]): Array[Double] =
      vs.map { case (_, v) =>
        var n = 0.0; var kk = 0
        while (kk < v.length) { n += v(kk).toDouble * v(kk).toDouble; kk += 1 }
        math.sqrt(n)
      }
    def score(a: Array[Float], b: Array[Float], na: Double, nb: Double): Double = {
      var dot = 0.0; var kk = 0
      val n = math.min(a.length, b.length)
      while (kk < n) { dot += a(kk).toDouble * b(kk).toDouble; kk += 1 }
      dot / (na * nb)
    }
    // bounded insertion keeping top-k by (cos DESC, id ASC)
    def insert(top: Array[(Long, Double)], used: Int, id: Long, c: Double): Int = {
      var lo = 0
      while (lo < used && (top(lo)._2 > c ||
        (top(lo)._2 == c && top(lo)._1 < id))) lo += 1
      if (lo >= top.length) return used
      val upto = math.min(used, top.length - 1)
      var m = upto
      while (m > lo) { top(m) = top(m - 1); m -= 1 }
      top(lo) = (id, c)
      math.min(used + 1, top.length)
    }
    replicated
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (Int, Int), it: Iterator[(Int, Int, Int, Array[(Long, Array[Float])])]) =>
        val (lo, hi) = key
        val blocks = it.toArray
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        def sweep(qs: Array[(Long, Array[Float])], nq: Array[Double],
            cs: Array[(Long, Array[Float])], nc: Array[Double]): Unit = {
          var qi = 0
          while (qi < qs.length) {
            val top = new Array[(Long, Double)](k)
            var used = 0
            var ci = 0
            while (ci < cs.length) {
              if (cs(ci)._1 != qs(qi)._1) {
                val c = score(qs(qi)._2, cs(ci)._2, nq(qi), nc(ci))
                used = insert(top, used, cs(ci)._1, c)
              }
              ci += 1
            }
            var t = 0
            while (t < used) { out += ((qs(qi)._1, top(t)._1, top(t)._2)); t += 1 }
            qi += 1
          }
        }
        if (lo == hi) {
          val vs = blocks.head._4
          val ns = norms(vs)
          sweep(vs, ns, vs, ns)
        } else {
          // an empty block sweeps as an empty array (see pairsAboveBlocked)
          val va = blocks.find(_._3 == lo).fold(Array.empty[(Long, Array[Float])])(_._4)
          val vb = blocks.find(_._3 == hi).fold(Array.empty[(Long, Array[Float])])(_._4)
          val na = norms(va); val nb = norms(vb)
          sweep(va, na, vb, nb)
          sweep(vb, nb, va, na)
        }
        out.iterator
      }.toDF("v", "nb", "cos")
  }

  def knnLabelEval(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    val sym = knnBlocked(s, d, k) // per-block partial top-k, same total order
    val lab = embeddings(s, d).select(col("vec_id"), col("label"))
    val wN = Window.partitionBy(col("v")).orderBy(col("cos").desc, col("nb"))
    val votes = sym.withColumn("rn", row_number().over(wN))
      .filter(col("rn") <= k)
      .join(lab.select(col("vec_id").as("nb"), col("label").as("nb_label")),
        Seq("nb"))
      .groupBy(col("v"), col("nb_label")).agg(count(lit(1)).as("cnt"))
    val wV = Window.partitionBy(col("v")).orderBy(col("cnt").desc, col("nb_label"))
    val pred = votes.withColumn("rn", row_number().over(wV))
      .filter(col("rn") === 1)
      .select(col("v"), col("nb_label").as("pred"))
    pred.join(lab.select(col("vec_id").as("v"), col("label")), Seq("v"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L)).as("n_correct"))
      .select(col("label"), col("n_vecs"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n_vecs").cast("double"), 6)
          .as("accuracy"))
      .orderBy(col("label"))
  }

  /** Deterministic driver gate for the approximate ANN (q31): one row
    * per query vector asserting the corpus-level recall@5 of the LSH
    * answer vs the exact brute-force answer meets the DECLARED floor
    * of 0.30. Everything inside is deterministic (splitmix64 planes,
    * fixed data), so the booleans are stable run to run; measured
    * recall at the shipped 6-bit × 16-table config is 0.50-0.62 across
    * sf0.001-0.1 (≥1.6× margin — embeddings are near-random, so ANY
    * sublinear candidate scheme trades recall; the floor is the
    * honest contract, and the oracle can pin the row set + TRUE).
    */
  def annLshGate(s: SparkSession, d: String): DataFrame = {
    val ann = annLsh(s, d).select(col("query_id"), col("neighbor_id"))
    val brute = knnBrute(s, d).select(col("query_id"), col("neighbor_id"))
    // one action: hit-mark the exact pairs, aggregate both tallies
    val st = brute
      .join(ann.withColumn("m", lit(1)), Seq("query_id", "neighbor_id"), "left")
      .agg(sum(coalesce(col("m"), lit(0))).as("hits"), count(lit(1)).as("n"))
      .first()
    val floorMet = st.getLong(0).toDouble / st.getLong(1) >= 0.30
    // output rows come from a plain embeddings scan — re-deriving the
    // query ids from `brute` would execute the whole kNN plan a
    // second time just to enumerate vec_id < 10
    embeddings(s, d).select(col("vec_id").as("query_id"))
      .filter(col("query_id") < 10)
      .select(col("query_id"), lit(floorMet).as("recall_floor_met"))
      .orderBy(col("query_id"))
  }

  /** Symmetric int8 quantization of the embedding column — the storage
    * /serving compression step an embedding pipeline runs before
    * indexing. Per vector: scale = max|x|/127, q_i = ⌊x_i/scale + ½⌋
    * (identical floor(+0.5) arithmetic on both engines — engine round()
    * tie conventions never enter), plus exact integer checksums and the
    * reconstruction MSE.
    *
    * Purely row-local (one narrow projection, no shuffle, no UDF —
    * all HOF builtins) so it scales linearly with the corpus.
    */
  def int8Quantize(s: SparkSession, d: String): DataFrame = {
    val maxAbs = aggregate(col("embedding"), lit(0.0),
      (acc, x) => greatest(acc, abs(x.cast("double"))))
    // internal name `sc` ≠ output alias `scale`: Spark 4 lateral column
    // alias resolution would otherwise bind the later col("scale")
    // references in this select to the ROUNDED alias, skewing qv/mse
    val q = embeddings(s, d).select(col("vec_id"), col("embedding"))
      .withColumn("sc",
        when(maxAbs === 0.0, lit(1.0)).otherwise(maxAbs / 127))
      .withColumn("qv", transform(col("embedding"),
        x => floor(x.cast("double") / col("sc") + 0.5).cast("long")))
    q.select(col("vec_id"),
      round(col("sc"), 8).as("scale"),
      aggregate(col("qv"), lit(0L), (a, x) => a + x).as("q_sum"),
      aggregate(col("qv"), lit(0L), (a, x) => a + abs(x)).as("q_l1"),
      round(
        aggregate(zip_with(col("embedding"), col("qv"),
          (x, qi) => {
            val e = x.cast("double") - qi.cast("double") * col("sc")
            e * e
          }), lit(0.0), (a, x) => a + x) / size(col("embedding")), 9).as("mse"))
      .orderBy(col("vec_id"))
  }

  /** Retrieval-quality evaluation of int8 quantization (q155): rank the
    * corpus for each query vector twice — exact float cosine vs cosine
    * over the q109-quantized integer vectors — and score the quantized
    * ranking against the exact one with the standard retrieval metrics:
    * recall@5 and the reciprocal rank of the TRUE nearest neighbor in
    * the quantized list. This is the eval a serving pipeline runs
    * before switching its index to int8.
    *
    * Cosine is scale-invariant, so the per-vector quantization scale
    * cancels and the quantized score is just the cosine of the integer
    * vectors — small exact integers whose double dot/norm accumulation
    * is bit-identical in list order on both engines (no rounding enters
    * until the final metric round).
    *
    * Scale shape: the query side (10 vectors) broadcasts against two
    * narrow corpus projections — the same queries × corpus pattern as
    * q30, linear in the corpus with no self-join; metrics are two
    * query-keyed joins over k-row-per-query rankings.
    */
  def quantRecall(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    val maxAbs = aggregate(col("embedding"), lit(0.0),
      (acc, x) => greatest(acc, abs(x.cast("double"))))
    val qvecs = embeddings(s, d).select(col("vec_id"), col("embedding"))
      .withColumn("sc", when(maxAbs === 0.0, lit(1.0)).otherwise(maxAbs / 127))
      .select(col("vec_id"), transform(col("embedding"),
        x => floor(x.cast("double") / col("sc") + 0.5)).as("qv"))
    val q = qvecs.select(col("vec_id").as("query_id"), col("qv").as("qa"))
      .filter(col("query_id") < 10)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val quant = broadcast(q)
      .join(qvecs, col("vec_id") =!= col("query_id"))
      // codegen'd one-pass cosine (CosineSimilarity, widened to
      // array<double>) replaces THREE interpreted zip_with/aggregate
      // folds per pair row: dot, na, nb accumulate in the same
      // per-element order, and dot/(sqrt(na)*sqrt(nb)) is the same
      // expression — bit-identical cos, whole-stage codegen (guide §4)
      .withColumn("cos", cosine(col("qa"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("qrank"))
    val exact = knnBrute(s, d)
    val hits = exact
      .join(quant.withColumn("m", lit(1)).select(col("query_id"),
        col("neighbor_id"), col("m")), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("m"), lit(0))).as("n_hits"))
    val rr = exact.filter(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id"))
      .join(quant, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"),
        coalesce(lit(1.0) / col("qrank"), lit(0.0)).as("rr"))
    hits.join(rr, Seq("query_id"))
      .select(col("query_id"), col("n_hits"),
        round(col("n_hits") / 5.0, 4).as("recall_at_5"),
        round(col("rr"), 4).as("rr"))
      .orderBy(col("query_id"))
  }

  /** Per-label embedding centroid & dispersion audit (q161): for each
    * class label, the squared centroid norm and the trace of the
    * (biased) covariance — the two scalars that say whether a label's
    * embeddings form a coherent cluster (‖μ‖² well away from 0,
    * tr Σ small) or noise. This is the embedding-space health check a
    * labeling or retrieval pipeline runs per class.
    *
    * Float sums across rows are addition-order-dependent, so every
    * component is quantized to integer micro-units (⌊x·10⁶ + ½⌋, the
    * q149 discipline) and summed exactly:
    * tr Σ = Σ_d (n·S2_d − S1_d²)/n², ‖μ‖² = Σ_d S1_d²/n², divided out
    * in double only once at the end. Accumulators stay within BIGINT
    * while n·Σ_d S2_d < 2⁶³ (true to ~10⁵ vectors/label at |x| ≤ 1);
    * beyond that they lift to DECIMAL(38,0).
    *
    * Scale shape: one narrow posexplode → a (label, dim)-keyed
    * map-side-combinable rollup (|labels|·dim keys) → a |labels|-key
    * rollup. No joins, no windows.
    */
  def labelCentroids(s: SparkSession, d: String): DataFrame =
    labelCentroidsOn(embeddings(s, d))

  private[graft] def labelCentroidsOn(e: DataFrame): DataFrame =
    e.select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("label"), col("dim"),
        floor(col("x").cast("double") * 1e6 + 0.5).cast("long").as("xu"))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("xu")).as("s1"),
        sum(col("xu") * col("xu")).as("s2"))
      .groupBy(col("label"))
      .agg(max(col("n")).as("n_vecs"),
        sum(col("n") * col("s2") - col("s1") * col("s1")).as("var_u"),
        sum(col("s1") * col("s1")).as("norm_u"))
      .select(col("label"), col("n_vecs"),
        round(col("var_u").cast("double") /
          (col("n_vecs").cast("double") * col("n_vecs") * lit(1e12)), 6)
          .as("trace_var"),
        round(col("norm_u").cast("double") /
          (col("n_vecs").cast("double") * col("n_vecs") * lit(1e12)), 6)
          .as("centroid_norm2"))
      .orderBy(col("label"))

  /** q206: simplified (centroid-based) silhouette per label — for each
    * vector, a = euclidean distance to its OWN label centroid, b = the
    * minimum distance to any OTHER label's centroid, s = (b−a)/max(a,b);
    * reported as the per-label mean. The cluster-quality score
    * (Hruschka et al.'s simplified silhouette) a labeling pipeline
    * checks before trusting label-confined operations like SemDeDup
    * (q141) — s near 1 = tight, separated classes; near 0 = overlap.
    *
    * Determinism: coordinates quantize once to integer micro-units
    * (the q161 discipline). With per-(label, dim) exact sums S1 and
    * counts n, each squared distance is
    *   Σ_d (xu_d·n − S1_d)² / (n²·10¹²)
    * whose numerator terms are computed in DECIMAL (lifted BEFORE the
    * xu·n product — no silent int64 wrap window) and squared exactly
    * in DECIMAL(19,0)→(38,0); |xu·n − S1| < 10¹⁹ holds to ~10¹²
    * unit-scale vectors per label, and past that bound both engines
    * fail loudly. sqrt and the (b−a)/max ratio are double assembly
    * from identical integers, and each s quantizes back to micro-units
    * before the per-label mean so the final average is order-free.
    *
    * Scale shape: one narrow posexplode → a (label, dim)-keyed
    * rollup (|labels|·dim rows, broadcast forever) → the corpus
    * expands ×|labels| through the broadcast dim join (the k-means
    * assignment shape, q112) → one (vec, label)-keyed rollup + one
    * label-keyed rollup. No window, no self-join.
    */
  /** Exact per-(vector, label-centroid) euclidean distances —
    * (vec_id, label, clabel, dist) — shared by q206 (silhouette) and
    * q232 (nearest-centroid eval). See silhouette's scaladoc for the
    * integer-exact derivation.
    */
  private[graft] def centroidDistances(s: SparkSession, d: String): DataFrame = {
    val Dec19 = org.apache.spark.sql.types.DataTypes.createDecimalType(19, 0)
    val ex = embeddings(s, d)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("label"), col("dim"),
        floor(col("x").cast("double") * 1e6 + 0.5).cast("long").as("xu"))
    val cents = ex.groupBy(col("label").as("clabel"), col("dim"))
      .agg(count(lit(1)).as("cn"), sum(col("xu")).as("s1"))
    // the q170 discipline: lift to decimal BEFORE the product so the
    // xu·n intermediate can never wrap int64 silently — beyond the
    // DECIMAL(19,0) bound both engines fail loudly instead of diverging
    val diff = (col("xu").cast(Dec19) * col("cn").cast(Dec19)
      - col("s1").cast(Dec19)).cast(Dec19)
    ex.join(broadcast(cents), Seq("dim"))
      .groupBy(col("vec_id"), col("label"), col("clabel"))
      .agg(max(col("cn")).as("cn"), sum(diff * diff).as("num"))
      .select(col("vec_id"), col("label"), col("clabel"),
        (sqrt(col("num").cast("double"))
          / (col("cn").cast("double") * 1e6)).as("dist"))
  }

  def silhouette(s: SparkSession, d: String): DataFrame = {
    val dists = centroidDistances(s, d)
    val perVec = dists.groupBy(col("vec_id"), col("label"))
      .agg(max(when(col("clabel") === col("label"), col("dist"))).as("a"),
        min(when(col("clabel") =!= col("label"), col("dist"))).as("b"))
      .select(col("label"),
        floor(when(greatest(col("a"), col("b")) > 0,
          (col("b") - col("a")) / greatest(col("a"), col("b")))
          .otherwise(lit(0.0)) * 1e6 + 0.5).cast("long").as("su"))
    perVec.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("su")).as("ssu"))
      .select(col("label"), col("n_vecs"),
        round(col("ssu").cast("double")
          / (col("n_vecs").cast("double") * 1e6), 6).as("mean_silhouette"))
      .orderBy(col("label"))
  }

  /** q232: nearest-centroid classification accuracy — every vector
    * classified by its closest label centroid (Rocchio / nearest
    * class mean), reported per label with the confusion margin
    * (accuracy and the share of vectors whose own-centroid distance
    * loses by < 5%). The cheap linear baseline every embedding eval
    * pairs with q226's kNN: if centroids already classify well, the
    * expensive neighbor search adds little.
    *
    * Determinism: distances are the q206 exact-integer construction
    * (shared `centroidDistances`); argmin ties break to the smaller
    * label; the margin test compares two identically-derived doubles.
    *
    * Scale shape: identical to q206 — one (label,dim) rollup
    * broadcast back through a ×|labels| expansion, then keyed
    * rollups. No pairs, no window over the corpus (the argmin is a
    * |labels|-wide min_by struct per vector).
    */
  def centroidEval(s: SparkSession, d: String): DataFrame = {
    val dists = centroidDistances(s, d)
    val perVec = dists.groupBy(col("vec_id"), col("label"))
      .agg(min_by(col("clabel"), struct(col("dist"), col("clabel"))).as("pred"),
        max(when(col("clabel") === col("label"), col("dist"))).as("own"),
        min(col("dist")).as("best"))
    perVec.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L)).as("n_correct"),
        sum(when(col("own") <= col("best") * lit(1.05), 1L).otherwise(0L))
          .as("n_within_margin"))
      .select(col("label"), col("n_vecs"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n_vecs").cast("double"), 6)
          .as("accuracy"),
        col("n_within_margin"))
      .orderBy(col("label"))
  }

  /** q239: binary (sign-bit) quantization recall — the most extreme
    * embedding compression: one bit per dimension (64 bits ≈ 8 bytes
    * per vector, a 32× cut over float32), ranked by Hamming distance;
    * reported as recall@5 against the exact cosine top-5 (q30) plus
    * the mean Hamming of the binary winners. Completes the
    * quantization-eval ladder int8 (q109/q155) → PQ (q114) → binary:
    * the memory/recall frontier a 100 TB vector corpus is tuned on.
    *
    * Determinism: the sign test (x ≥ 0) and the Hamming sum are exact
    * integers; ranking ties break by vec_id; recall and the mean are
    * divisions of small integers by 5.
    *
    * Scale shape: the q30 shape — broadcast 10 queries, corpus
    * streams once; the Hamming fold runs inside codegen (zip_with +
    * aggregate HOFs). At index scale the binary codes become the
    * stored representation and the scan reads 8 bytes/vector.
    */
  def binaryQuantRecall(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val ham = broadcast(q).join(e, col("vec_id") =!= col("query_id"))
      // codegen'd kernel (graft.functions.SignHamming) — the HOF
      // zip_with/aggregate form runs interpreted lambdas per element;
      // integer-exact either way (SimilaritySpec proves ≡), so the
      // oracle is unchanged
      .withColumn("hamming", graft.functions.SignHamming.signHamming(
        col("qe"), col("embedding")))
    val wB = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("vec_id"))
    val top5b = ham.withColumn("rn", row_number().over(wB))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("vec_id"), col("hamming"))
    val exact = knnBrute(s, d)
      .select(col("query_id").as("eq"), col("neighbor_id").as("en"))
    top5b.join(broadcast(exact),
        col("query_id") === col("eq") && col("vec_id") === col("en"), "left")
      .groupBy(col("query_id"))
      .agg(sum(when(col("en").isNotNull, 1L).otherwise(0L)).as("hits"),
        sum(col("hamming")).as("sh"))
      .select(col("query_id"),
        round(col("hits").cast("double") / 5.0, 4).as("recall_at_5"),
        round(col("sh").cast("double") / 5.0, 4).as("mean_hamming_top5"))
      .orderBy(col("query_id"))
  }

  /** Contrastive hard-negative mining (q165): for each query vector,
    * the single most-similar SAME-label vector (the positive) and the
    * `kNeg` most-similar DIFFERENT-label vectors (the hard negatives)
    * — exactly the triplet-construction step of contrastive embedding
    * training, where random negatives are too easy and the nearest
    * wrong-label examples carry the gradient.
    *
    * Same queries × corpus shape as q30 (broadcast query side, corpus
    * streams); the two role branches rank with the standard
    * (cos DESC, vec_id) deterministic tie-break and the cosine is the
    * bit-exact codegen'd expression, so the whole mined set is
    * hash-gated. At index scale the corpus pass consumes LSH/IVF
    * candidates instead of the full scan (q31/q52), unchanged shape.
    */
  def hardNegatives(s: SparkSession, d: String, kNeg: Int = 3): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"), col("label"), col("embedding"))
    val q = e.select(col("vec_id").as("query_id"), col("label").as("qlabel"),
      col("embedding").as("qe")).filter(col("query_id") < 10)
    val scored = broadcast(q)
      .join(e, col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qe"), col("embedding")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    def ranked(part: DataFrame, role: String, keep: Int) = part
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= keep)
      .select(col("query_id"), lit(role).as("role"),
        col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"), round(col("cos"), 4).as("cos_sim"))
    ranked(scored.filter(col("label") === col("qlabel")), "pos", 1)
      .unionAll(ranked(scored.filter(col("label") =!= col("qlabel")), "neg", kNeg))
      .orderBy(col("query_id"), col("role"), col("rank"))
  }

  /** q186: Johnson-Lindenstrauss projection audit — project every
    * 64-d embedding to 16-d with a ±1 sign matrix and report the
    * norm-distortion histogram ‖Rx/√m‖²/‖x‖². The empirical check
    * behind every "reduce the embedding dim before the expensive
    * op" decision (JL: distortion concentrates near 1).
    *
    * Determinism: the sign matrix derives from md5("jl|i|j") (top bit
    * of the first digest byte ⇔ first hex char < '8' — both engines
    * agree); coordinates quantize ONCE to integer micro-units, so
    * projections and both norms are exact integer sums; the ratio is
    * one double division of exact integers, and the histogram bucket
    * is floor(ratio·10) of that identical double.
    *
    * Scale shape: a narrow compiled mapPartitions computes each
    * vector's ratio in one pass (the sign matrix is built once per
    * partition); the only shuffle is the ≤ ~20-key bucket rollup.
    */
  def jlAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (dimIn, dimOut) = (64, 16)
    val ratios = embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val digest = java.security.MessageDigest.getInstance("MD5")
        // sign(i)(j) for 1-based (i, j), matching the oracle's strings
        val sign = Array.tabulate(dimIn, dimOut) { (i0, j0) =>
          val b = digest.digest(
            s"jl|${i0 + 1}|${j0 + 1}".getBytes("UTF-8"))
          if ((b(0) & 0x80) == 0) 1L else -1L
        }
        it.map { case (id, arr) =>
          val qx = Array.tabulate(dimIn)(i =>
            math.floor(arr(i).toDouble * 1e6 + 0.5).toLong)
          var nx = 0L
          var i = 0
          while (i < dimIn) { nx += qx(i) * qx(i); i += 1 }
          var ny = 0L
          var j = 0
          while (j < dimOut) {
            var y = 0L
            var k = 0
            while (k < dimIn) { y += sign(k)(j) * qx(k); k += 1 }
            ny += y * y
            j += 1
          }
          val ratio = (ny.toDouble / dimOut) / nx.toDouble
          (id, math.floor(ratio * 10).toLong, ratio)
        }
      }
      .toDF("vec_id", "bucket", "ratio")
    ratios.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min(col("ratio")), 4).as("min_ratio"),
        round(max(col("ratio")), 4).as("max_ratio"))
      .orderBy(col("bucket"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q186_jl_audit"       -> jlAudit _,
    "q109_int8_quantize"  -> int8Quantize _,
    "q155_quant_recall"   -> ((s: SparkSession, d: String) => quantRecall(s, d)),
    "q161_label_centroids" -> ((s: SparkSession, d: String) => labelCentroids(s, d)),
    "q232_centroid_eval" -> ((s: SparkSession, d: String) => centroidEval(s, d)),
    "q239_binary_quant" -> binaryQuantRecall _,
    "q206_silhouette"     -> silhouette _,
    "q165_hard_negatives" -> ((s: SparkSession, d: String) => hardNegatives(s, d)),
    "q38_top_similar_pairs" -> ((s: SparkSession, d: String) => topSimilarPairs(s, d)),
    "q226_knn_label_eval" -> ((s: SparkSession, d: String) => knnLabelEval(s, d)),
    "q30_knn_brute"       -> knnBrute _,
    "q31_ann_lsh"         -> annLshGate _,
    "q32_embedding_stats" -> embeddingStats _,
  )

  val oracleSql: Map[String, String] = Map(
    "q186_jl_audit" ->
      """WITH ii AS (SELECT CAST(range AS BIGINT) AS i FROM range(1, 65)),
        |jj AS (SELECT CAST(range AS BIGINT) AS j FROM range(1, 17)),
        |sg AS (
        |  SELECT i, j,
        |    CASE WHEN substr(md5('jl|' || i || '|' || j), 1, 1) < '8'
        |         THEN 1 ELSE -1 END AS sign
        |  FROM ii CROSS JOIN jj),
        |x AS (
        |  SELECT vec_id, ii.i,
        |    CAST(floor(CAST(embedding[ii.i] AS DOUBLE) * 1e6 + 0.5)
        |      AS BIGINT) AS qx
        |  FROM embeddings CROSS JOIN ii),
        |nx AS (SELECT vec_id, CAST(sum(qx * qx) AS BIGINT) AS nx
        |       FROM x GROUP BY 1),
        |y AS (
        |  SELECT x.vec_id, sg.j, CAST(sum(sg.sign * x.qx) AS BIGINT) AS yq
        |  FROM x JOIN sg ON sg.i = x.i
        |  GROUP BY 1, 2),
        |ny AS (SELECT vec_id, CAST(sum(yq * yq) AS BIGINT) AS ny
        |       FROM y GROUP BY 1),
        |r AS (
        |  SELECT nx.vec_id,
        |    (CAST(ny AS DOUBLE) / 16) / CAST(nx AS DOUBLE) AS ratio
        |  FROM nx JOIN ny ON nx.vec_id = ny.vec_id)
        |SELECT CAST(floor(ratio * 10) AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(min(ratio), 4) AS min_ratio,
        |  round(max(ratio), 4) AS max_ratio
        |FROM r GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q165_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, label AS qlabel,
        |             embedding AS qe
        |           FROM embeddings WHERE vec_id < 10),
        |s AS (
        |  SELECT q.query_id, q.qlabel, e.vec_id, e.label,
        |    list_sum([CAST(qe[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |              for i in range(1, len(qe) + 1)])
        |    / (sqrt(list_sum([CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
        |                      for i in range(1, len(qe) + 1)]))
        |       * sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                        for i in range(1, len(embedding) + 1)]))) AS cos
        |  FROM q JOIN embeddings e ON e.vec_id <> q.query_id),
        |p AS (
        |  SELECT query_id, 'pos' AS role, CAST(rank AS BIGINT) AS rank,
        |    vec_id AS neighbor_id, round(cos, 4) AS cos_sim
        |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                   ORDER BY cos DESC, vec_id) AS rank
        |        FROM s WHERE label = qlabel)
        |  WHERE rank = 1),
        |n AS (
        |  SELECT query_id, 'neg' AS role, CAST(rank AS BIGINT) AS rank,
        |    vec_id AS neighbor_id, round(cos, 4) AS cos_sim
        |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                   ORDER BY cos DESC, vec_id) AS rank
        |        FROM s WHERE label <> qlabel)
        |  WHERE rank <= 3)
        |SELECT * FROM p
        |UNION ALL
        |SELECT * FROM n
        |ORDER BY query_id, role, rank""".stripMargin,
    "q239_binary_quant" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
        |           FROM embeddings WHERE vec_id < 10),
        |h AS (
        |  SELECT q.query_id, e.vec_id,
        |    CAST(list_sum([CASE WHEN (qe[i] >= 0) <> (embedding[i] >= 0)
        |        THEN 1 ELSE 0 END for i in range(1, len(qe) + 1)]) AS BIGINT)
        |      AS hamming
        |  FROM q JOIN embeddings e ON e.vec_id <> q.query_id),
        |rb AS (
        |  SELECT query_id, vec_id, hamming,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY hamming, vec_id) AS rn
        |  FROM h),
        |tb AS (SELECT query_id, vec_id, hamming FROM rb WHERE rn <= 5),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_sum([CAST(qe[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |              for i in range(1, len(qe) + 1)])
        |    / (sqrt(list_sum([CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
        |                      for i in range(1, len(qe) + 1)]))
        |       * sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                        for i in range(1, len(embedding) + 1)]))) AS cos
        |  FROM q JOIN embeddings e ON e.vec_id <> q.query_id),
        |re AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY cos DESC, vec_id) AS rank
        |    FROM scored) WHERE rank <= 5),
        |agg AS (SELECT query_id, CAST(sum(hamming) AS BIGINT) AS sh
        |        FROM tb GROUP BY 1),
        |hits AS (
        |  SELECT tb.query_id, CAST(count(*) AS BIGINT) AS n
        |  FROM tb JOIN re ON re.query_id = tb.query_id
        |    AND re.vec_id = tb.vec_id
        |  GROUP BY 1)
        |SELECT agg.query_id,
        |  round(CAST(coalesce(hits.n, 0) AS DOUBLE) / 5.0, 4) AS recall_at_5,
        |  round(CAST(agg.sh AS DOUBLE) / 5.0, 4) AS mean_hamming_top5
        |FROM agg LEFT JOIN hits USING (query_id)
        |ORDER BY query_id""".stripMargin,
    "q232_centroid_eval" ->
      """WITH t AS (
        |  SELECT vec_id, label, unnest(range(1, len(embedding) + 1)) AS dim,
        |    unnest(embedding) AS x
        |  FROM embeddings),
        |u AS (
        |  SELECT vec_id, label, dim,
        |    CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS xu
        |  FROM t),
        |c AS (
        |  SELECT label AS clabel, dim, CAST(count(*) AS BIGINT) AS cn,
        |    CAST(sum(xu) AS BIGINT) AS s1
        |  FROM u GROUP BY 1, 2),
        |dd AS (
        |  SELECT u.vec_id, u.label, c.clabel, max(c.cn) AS cn,
        |    CAST(sum(CAST(CAST(u.xu AS DECIMAL(19,0)) * CAST(c.cn AS DECIMAL(19,0))
        |               - CAST(c.s1 AS DECIMAL(19,0)) AS DECIMAL(19,0))
        |             * CAST(CAST(u.xu AS DECIMAL(19,0)) * CAST(c.cn AS DECIMAL(19,0))
        |               - CAST(c.s1 AS DECIMAL(19,0)) AS DECIMAL(19,0)))
        |      AS DECIMAL(38,0)) AS num
        |  FROM u JOIN c ON c.dim = u.dim
        |  GROUP BY 1, 2, 3),
        |dist AS (
        |  SELECT vec_id, label, clabel,
        |    sqrt(CAST(num AS DOUBLE)) / (CAST(cn AS DOUBLE) * 1000000) AS dist
        |  FROM dd),
        |r AS (
        |  SELECT vec_id, label, clabel, dist,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, clabel) AS rn,
        |    max(CASE WHEN clabel = label THEN dist END)
        |      OVER (PARTITION BY vec_id) AS own,
        |    min(dist) OVER (PARTITION BY vec_id) AS best
        |  FROM dist),
        |pv AS (SELECT vec_id, label, clabel AS pred, own, best
        |       FROM r WHERE rn = 1)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_correct,
        |  round(CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS accuracy,
        |  CAST(sum(CASE WHEN own <= best * 1.05 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_within_margin
        |FROM pv GROUP BY label ORDER BY label""".stripMargin,
    "q206_silhouette" ->
      """WITH t AS (
        |  SELECT vec_id, label, unnest(range(1, len(embedding) + 1)) AS dim,
        |    unnest(embedding) AS x
        |  FROM embeddings),
        |u AS (
        |  SELECT vec_id, label, dim,
        |    CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS xu
        |  FROM t),
        |c AS (
        |  SELECT label AS clabel, dim, CAST(count(*) AS BIGINT) AS cn,
        |    CAST(sum(xu) AS BIGINT) AS s1
        |  FROM u GROUP BY 1, 2),
        |dd AS (
        |  SELECT u.vec_id, u.label, c.clabel, max(c.cn) AS cn,
        |    CAST(sum(CAST(CAST(u.xu AS DECIMAL(19,0)) * CAST(c.cn AS DECIMAL(19,0))
        |               - CAST(c.s1 AS DECIMAL(19,0)) AS DECIMAL(19,0))
        |             * CAST(CAST(u.xu AS DECIMAL(19,0)) * CAST(c.cn AS DECIMAL(19,0))
        |               - CAST(c.s1 AS DECIMAL(19,0)) AS DECIMAL(19,0)))
        |      AS DECIMAL(38,0)) AS num
        |  FROM u JOIN c ON c.dim = u.dim
        |  GROUP BY 1, 2, 3),
        |dist AS (
        |  SELECT vec_id, label, clabel,
        |    sqrt(CAST(num AS DOUBLE)) / (CAST(cn AS DOUBLE) * 1000000) AS dist
        |  FROM dd),
        |pv AS (
        |  SELECT vec_id, label,
        |    max(CASE WHEN clabel = label THEN dist END) AS a,
        |    min(CASE WHEN clabel <> label THEN dist END) AS b
        |  FROM dist GROUP BY 1, 2),
        |su AS (
        |  SELECT label,
        |    CAST(floor((CASE WHEN greatest(a, b) > 0
        |                     THEN (b - a) / greatest(a, b) ELSE 0 END)
        |               * 1000000 + 0.5) AS BIGINT) AS su
        |  FROM pv)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  round(CAST(sum(su) AS DOUBLE)
        |        / (CAST(count(*) AS DOUBLE) * 1000000), 6) AS mean_silhouette
        |FROM su GROUP BY label ORDER BY label""".stripMargin,
    "q161_label_centroids" ->
      """WITH t AS (
        |  SELECT label, unnest(range(1, len(embedding) + 1)) AS d,
        |    unnest(embedding) AS x
        |  FROM embeddings),
        |u AS (
        |  SELECT label, d,
        |    CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS xu
        |  FROM t),
        |pd AS (
        |  SELECT label, d, count(*) AS n,
        |    CAST(sum(xu) AS BIGINT) AS s1,
        |    CAST(sum(xu * xu) AS BIGINT) AS s2
        |  FROM u GROUP BY label, d),
        |a AS (
        |  SELECT label, max(n) AS n_vecs,
        |    CAST(sum(n * s2 - s1 * s1) AS BIGINT) AS var_u,
        |    CAST(sum(s1 * s1) AS BIGINT) AS norm_u
        |  FROM pd GROUP BY label)
        |SELECT label, n_vecs,
        |  round(CAST(var_u AS DOUBLE)
        |        / (CAST(n_vecs AS DOUBLE) * n_vecs * 1000000000000), 6)
        |    AS trace_var,
        |  round(CAST(norm_u AS DOUBLE)
        |        / (CAST(n_vecs AS DOUBLE) * n_vecs * 1000000000000), 6)
        |    AS centroid_norm2
        |FROM a
        |ORDER BY label""".stripMargin,
    "q155_quant_recall" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    CASE WHEN list_max([abs(CAST(embedding[i] AS DOUBLE))
        |                        for i in range(1, len(embedding) + 1)]) = 0
        |      THEN 1.0
        |      ELSE list_max([abs(CAST(embedding[i] AS DOUBLE))
        |                     for i in range(1, len(embedding) + 1)]) / 127
        |    END AS scale
        |  FROM embeddings),
        |qv AS (
        |  SELECT vec_id,
        |    [floor(CAST(embedding[i] AS DOUBLE) / scale + 0.5)
        |     for i in range(1, len(embedding) + 1)] AS qv
        |  FROM s),
        |eq AS (SELECT vec_id AS query_id, embedding AS qe
        |       FROM embeddings WHERE vec_id < 10),
        |es AS (
        |  SELECT eq.query_id, e.vec_id,
        |    list_sum([CAST(qe[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |              for i in range(1, len(qe) + 1)])
        |    / (sqrt(list_sum([CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
        |                      for i in range(1, len(qe) + 1)]))
        |       * sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                        for i in range(1, len(embedding) + 1)]))) AS cos
        |  FROM eq JOIN embeddings e ON e.vec_id <> eq.query_id),
        |e5 AS (
        |  SELECT query_id, vec_id, rank FROM (
        |    SELECT query_id, vec_id,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY cos DESC, vec_id) AS rank
        |    FROM es) WHERE rank <= 5),
        |qq AS (SELECT vec_id AS query_id, qv AS qa FROM qv WHERE vec_id < 10),
        |qs AS (
        |  SELECT qq.query_id, e.vec_id,
        |    list_sum([qa[i] * e.qv[i] for i in range(1, len(qa) + 1)])
        |    / (sqrt(list_sum([qa[i] * qa[i] for i in range(1, len(qa) + 1)]))
        |       * sqrt(list_sum([e.qv[i] * e.qv[i]
        |                        for i in range(1, len(e.qv) + 1)]))) AS cos
        |  FROM qq JOIN qv e ON e.vec_id <> qq.query_id),
        |q5 AS (
        |  SELECT query_id, vec_id, rank FROM (
        |    SELECT query_id, vec_id,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY cos DESC, vec_id) AS rank
        |    FROM qs) WHERE rank <= 5),
        |hits AS (
        |  SELECT e5.query_id, CAST(count(q5.vec_id) AS BIGINT) AS n_hits
        |  FROM e5 LEFT JOIN q5
        |    ON e5.query_id = q5.query_id AND e5.vec_id = q5.vec_id
        |  GROUP BY e5.query_id),
        |rr AS (
        |  SELECT e1.query_id,
        |    coalesce(CAST(1.0 AS DOUBLE) / q5.rank, CAST(0.0 AS DOUBLE)) AS rr
        |  FROM (SELECT query_id, vec_id FROM e5 WHERE rank = 1) e1
        |  LEFT JOIN q5
        |    ON e1.query_id = q5.query_id AND e1.vec_id = q5.vec_id)
        |SELECT hits.query_id, n_hits,
        |  round(CAST(n_hits AS DOUBLE) / 5, 4) AS recall_at_5,
        |  round(rr, 4) AS rr
        |FROM hits JOIN rr ON hits.query_id = rr.query_id
        |ORDER BY hits.query_id""".stripMargin,
    "q109_int8_quantize" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    CASE WHEN list_max([abs(CAST(embedding[i] AS DOUBLE))
        |                        for i in range(1, len(embedding) + 1)]) = 0
        |      THEN 1.0
        |      ELSE list_max([abs(CAST(embedding[i] AS DOUBLE))
        |                     for i in range(1, len(embedding) + 1)]) / 127
        |    END AS scale
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, scale, embedding,
        |    [CAST(floor(CAST(embedding[i] AS DOUBLE) / scale + 0.5) AS BIGINT)
        |     for i in range(1, len(embedding) + 1)] AS qv
        |  FROM s)
        |SELECT vec_id, round(scale, 8) AS scale,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  CAST(list_sum([abs(qv[i]) for i in range(1, len(qv) + 1)]) AS BIGINT)
        |    AS q_l1,
        |  round(list_sum([(CAST(embedding[i] AS DOUBLE) - qv[i] * scale)
        |                  * (CAST(embedding[i] AS DOUBLE) - qv[i] * scale)
        |                  for i in range(1, len(embedding) + 1)])
        |        / len(embedding), 9) AS mse
        |FROM q
        |ORDER BY vec_id""".stripMargin,
    "q31_ann_lsh" ->
      """SELECT vec_id AS query_id, TRUE AS recall_floor_met
        |FROM embeddings WHERE vec_id < 10
        |ORDER BY query_id""".stripMargin,
    "q38_top_similar_pairs" ->
      """WITH pairs AS (
        |  SELECT x.vec_id AS a, y.vec_id AS b,
        |    list_sum([CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)
        |              for i in range(1, len(x.embedding) + 1)])
        |    / (sqrt(list_sum([CAST(x.embedding[i] AS DOUBLE) * CAST(x.embedding[i] AS DOUBLE)
        |                      for i in range(1, len(x.embedding) + 1)]))
        |       * sqrt(list_sum([CAST(y.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)
        |                        for i in range(1, len(y.embedding) + 1)]))) AS cos
        |  FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id)
        |SELECT a, b, round(cos, 4) AS cos_sim
        |FROM pairs
        |ORDER BY round(cos, 4) DESC, a, b
        |LIMIT 20""".stripMargin,
    "q226_knn_label_eval" ->
      """WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
        |pairs AS (
        |  SELECT x.vec_id AS v, y.vec_id AS nb, y.label AS nb_label,
        |    list_sum([CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)
        |              for i in range(1, len(x.embedding) + 1)])
        |    / (sqrt(list_sum([CAST(x.embedding[i] AS DOUBLE) * CAST(x.embedding[i] AS DOUBLE)
        |                      for i in range(1, len(x.embedding) + 1)]))
        |       * sqrt(list_sum([CAST(y.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)
        |                        for i in range(1, len(y.embedding) + 1)]))) AS cos
        |  FROM e x JOIN e y ON x.vec_id <> y.vec_id),
        |top AS (
        |  SELECT v, nb_label,
        |    row_number() OVER (PARTITION BY v ORDER BY cos DESC, nb) AS rn
        |  FROM pairs),
        |votes AS (
        |  SELECT v, nb_label, CAST(count(*) AS BIGINT) AS cnt
        |  FROM top WHERE rn <= 5 GROUP BY 1, 2),
        |pred AS (
        |  SELECT v, nb_label AS pred FROM (
        |    SELECT v, nb_label,
        |      row_number() OVER (PARTITION BY v ORDER BY cnt DESC, nb_label) AS rn
        |    FROM votes) WHERE rn = 1)
        |SELECT e.label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(CASE WHEN pred.pred = e.label THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_correct,
        |  round(CAST(sum(CASE WHEN pred.pred = e.label THEN 1 ELSE 0 END)
        |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS accuracy
        |FROM pred JOIN e ON e.vec_id = pred.v
        |GROUP BY 1 ORDER BY label""".stripMargin,
    "q30_knn_brute" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
        |           FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_sum([CAST(qe[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |              for i in range(1, len(qe) + 1)])
        |    / (sqrt(list_sum([CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
        |                      for i in range(1, len(qe) + 1)]))
        |       * sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                        for i in range(1, len(embedding) + 1)]))) AS cos
        |  FROM q JOIN embeddings e ON e.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, vec_id AS neighbor_id, rank
        |FROM ranked
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "q32_embedding_stats" ->
      """SELECT vec_id, label, len(embedding) AS dim,
        |  round(sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                       for i in range(1, len(embedding) + 1)])), 4) AS l2_norm
        |FROM embeddings
        |ORDER BY vec_id""".stripMargin,
  )
}
