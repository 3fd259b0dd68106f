package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Similarity, Skew, TextAnalysis}

/** Semantics checks for the non-oracle (approximate/heuristic) ops and
  * cross-op consistency invariants, on sf0.001.
  */
class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("langId: predicts a language from the configured set for every doc") {
    val out = TextAnalysis.langId(spark, sf).collect()
    assert(out.length == 500)
    val langs = Set("en", "de", "es", "fr", "zh")
    assert(out.forall(r => langs.contains(r.getAs[String]("predicted_lang"))))
  }

  test("minhash-LSH candidates recover every near-dup pair (jaccard ≥ 0.8)") {
    // Ground truth computed independently, brute-force over all pairs
    // (q28 itself is LSH-candidate-based, so it cannot be the oracle
    // here). With 8 bands × 2 rows, P(candidate | jac ≥ 0.8) ≈ 0.9997
    // per pair; hashes are deterministic md5 over fixed data, so the
    // outcome is reproducible, not flaky: at sf0.001 all 28 near-dup
    // pairs (jac 0.89-0.99) are caught.
    val shingleSets = graft.util.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map { r =>
        val ws = r.getAs[String]("text").split("\\s+")
        r.getAs[Long]("doc_id") -> ws.sliding(3).map(_.mkString(" ")).toSet
      }.filter(_._2.nonEmpty)
    val nearDups = (for {
      (a, sa) <- shingleSets.iterator
      (b, sb) <- shingleSets.iterator if a < b
      inter = (sa & sb).size
      jac = inter.toDouble / (sa.size + sb.size - inter)
      if jac >= 0.8
    } yield (a, b)).toSet
    val cands = Dedup.minhashPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(nearDups.nonEmpty, "fixture should contain near-dups")
    assert(nearDups.subsetOf(cands),
      s"missing: ${nearDups.diff(cands).take(5)}")
    // and the verified pairs from q28 are exactly the ≥0.5 candidates
    val verified = Dedup.jaccardPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(verified.subsetOf(cands))
  }

  test("ann-LSH returns only true vectors and reports sane recall vs brute force") {
    val brute = Similarity.knnBrute(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ann = Similarity.annLsh(spark, sf).collect()
    val annPairs = ann.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(ann.nonEmpty)
    // neighbors must be real vec_ids, never the query itself
    assert(ann.forall(r => r.getAs[Long]("neighbor_id") != r.getAs[Long]("query_id")))
    val recall = annPairs.intersect(brute).size.toDouble / brute.size
    info(f"ann recall@5 vs brute force: $recall%.2f (candidates=${annPairs.size})")
    assert(recall > 0.0, "LSH should recover at least some true neighbors")
  }

  test("q155 quantized-retrieval metrics are internally consistent") {
    val rows = Similarity.quantRecall(spark, sf).collect()
    assert(rows.length == 10) // one row per query vector
    val validRr = Set(0.0, 1.0, 0.5, 0.3333, 0.25, 0.2)
    rows.foreach { r =>
      val hits = r.getAs[Long]("n_hits")
      assert(hits >= 0 && hits <= 5)
      assert(r.getAs[Double]("recall_at_5") == hits / 5.0)
      assert(validRr.contains(r.getAs[Double]("rr")),
        s"rr must be 1/rank for rank 1-5 or 0: ${r.getAs[Double]("rr")}")
      // int8 keeps 64-dim cosine rankings nearly intact: losing the
      // entire exact top-5 would mean the quantizer is broken
      assert(hits >= 1, s"query ${r.getAs[Long]("query_id")} lost all 5")
    }
  }

  test("pairsAboveBlocked (distributed sweep) ≡ pairsAbove ground truth, bit-exact, multi-block") {
    // blockRows=64 forces many blocks at sf0.001 so the cross-block
    // path, the within-block path, and the id-ordering normalization
    // are all exercised; doubles must match BIT-exactly (same
    // accumulation order), not approximately
    val blocked = Similarity.pairsAboveBlocked(spark, sf, 0.3, blockRows = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val reference = Similarity.pairsAbove(spark, sf, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(blocked.nonEmpty)
    assert(blocked == reference)
  }

  test("blocked sweeps skip the pairs of a block that holds no vectors") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 8 vectors in blocks of 2 rows → 4 hash blocks; take the first 8
    // ids that hash outside block 0, so block 0 stays empty while every
    // other block is replicated to its pair with it
    val ids = spark.range(0, 200)
      .filter(pmod(hash(col("id")), lit(4)) =!= 0)
      .limit(8).as[Long].collect().toSeq
    val rnd = new scala.util.Random(7)
    val vecs = ids.map(id => (id, Array.fill(4)(rnd.nextFloat() - 0.5f)))
    val d = java.nio.file.Files.createTempDirectory("graft-empty-block").toString
    vecs.toDF("vec_id", "embedding").write.parquet(s"$d/embeddings.parquet")

    def triples(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val blocked = triples(Similarity.pairsAboveBlocked(spark, d, -1.0, blockRows = 2))
    assert(blocked.size == 8 * 7 / 2)
    assert(blocked == triples(Similarity.pairsAbove(spark, d, -1.0)))

    // kNN: each vector's 3 best over the per-block partial lists equal
    // a driver-side brute force (same cos, id tie-break)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.indices.map(i => x(i).toDouble * y(i).toDouble).sum
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    val brute = vecs.map { case (v, e) =>
      v -> vecs.filter(_._1 != v).map { case (n, f) => (n, cos(e, f)) }
        .sortBy { case (n, c) => (-c, n) }.take(3).map(_._1)
    }.toMap
    val partial = triples(Similarity.knnBlocked(spark, d, 3, blockRows = 2))
    val knn = partial.groupBy(_._1).map { case (v, rs) =>
      v -> rs.toSeq.sortBy { case (_, n, c) => (-c, n) }.take(3).map(_._2)
    }
    assert(knn == brute)
  }

  test("approx_count_distinct stays within its 2% rsd bound (×5 slack)") {
    val rows = TextAnalysis.approxDistinctRaw(spark, sf).collect()
    rows.foreach { r =>
      val exact = r.getAs[Long]("exact_words").toDouble
      val approx = r.getAs[Long]("approx_words").toDouble
      assert(math.abs(approx - exact) / exact <= 0.10,
        s"${r.getAs[String]("lang")}: exact=$exact approx=$approx")
    }
  }

  test("dupClusters: single-task union-find equals distributed min-label propagation") {
    val fast = graft.ops.Clustering.dupClusters(spark, sf).collect().toSeq
    val propagated = graft.ops.Clustering
      .dupClustersImpl(spark, sf, maxLocalNodes = 0).collect().toSeq
    assert(fast == propagated)
    assert(fast.nonEmpty)
  }

  test("q150: star-alternation components equal q51 on the near-dup graph") {
    val star = graft.ops.Clustering.ccStar(spark, sf).collect().toSeq
    val q51 = graft.ops.Clustering.dupClusters(spark, sf).collect().toSeq
    assert(star == q51)
    assert(star.nonEmpty)
  }

  test("q150 core: deep chain + star + isolated pair label to component minima") {
    import spark.implicits._
    // chain 1..9 (diameter 8 — exercises multi-round alternation),
    // star around 20, and the pair (100, 101)
    val edges = ((1L to 8L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (20L, 22L), (20L, 23L), (100L, 101L)))
      .toDF("u", "v")
    val got = graft.ops.Clustering.ccStarOn(edges).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size"))).toMap
    val expect =
      (1L to 9L).map(_ -> (1L, 9L)).toMap ++
        Seq(20L, 21L, 22L, 23L).map(_ -> (20L, 4L)).toMap ++
        Map(100L -> (100L, 2L), 101L -> (100L, 2L))
    assert(got == expect)
  }

  test("salted aggregation equals the direct groupBy (skew-safe path)") {
    import org.apache.spark.sql.functions._
    val li = graft.util.Tables.lineitem(spark, sf)
    val direct = li.groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("sum_l_quantity"), count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val salted = Skew.saltedSumCount(li, Seq("l_returnflag"), "l_quantity", 16)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    // counts must be identical; double sums compared with tolerance
    assert(direct.map(t => (t._1, t._3)) == salted.map(t => (t._1, t._3)))
    val d = direct.toSeq.sortBy(_._1).zip(salted.toSeq.sortBy(_._1))
    d.foreach { case (a, b) => assert(math.abs(a._2 - b._2) < 1e-6) }
  }

  test("exact dedup keeps one representative per distinct content") {
    val out = Dedup.exactDedup(spark, sf).collect()
    val total = out.map(_.getAs[Long]("n_copies")).sum
    assert(total == 500) // partitions the corpus
    assert(out.map(_.getAs[String]("fp")).distinct.length == out.length)
  }

  test("q165 hard negatives: roles respect labels and ranks are consistent") {
    val labels = graft.util.Tables.embeddings(spark, sf)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getAs[Number]("label").longValue).toMap
    val rows = Similarity.hardNegatives(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val q = r.getAs[Long]("query_id"); val n = r.getAs[Long]("neighbor_id")
      val same = labels(q) == labels(n)
      if (r.getAs[String]("role") == "pos") assert(same) else assert(!same)
    }
    // every query mines exactly 1 positive + 3 hard negatives
    rows.groupBy(_.getAs[Long]("query_id")).values.foreach { g =>
      assert(g.count(_.getAs[String]("role") == "pos") == 1)
      assert(g.count(_.getAs[String]("role") == "neg") == 3)
    }
  }

  test("q163 quantile normalization preserves within-lang order and pins the range") {
    val rows = TextAnalysis.quantileNormalize(spark, sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Double]("score"),
        r.getAs[Double]("norm_score")))
    assert(rows.nonEmpty)
    // within each language, normalization is monotone in the raw score
    rows.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(r => (r._2, r._3))
      sorted.sliding(2).foreach {
        case Array((_, _, n1), (_, _, n2)) => assert(n1 <= n2)
        case _ =>
      }
    }
    // every lang's extremes map onto the global extremes (pr 0 → global
    // min, pr 1 → global max), so the normalized range = raw range
    val gMin = rows.map(_._2).min
    val gMax = rows.map(_._2).max
    assert(rows.map(_._3).min == gMin)
    assert(rows.map(_._3).max == gMax)
  }

  test("q161 label centroids on planted unit vectors are exact") {
    import spark.implicits._
    // label 0: (1,0) and (0,1) → per dim mean ½, biased var ¼ →
    // trace 0.5; centroid (½,½) → ‖μ‖² = 0.5
    val e = Seq((0L, Array(1.0f, 0.0f)), (0L, Array(0.0f, 1.0f)))
      .toDF("label", "embedding")
    val r = Similarity.labelCentroidsOn(e).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("n_vecs") == 2L)
    assert(r(0).getAs[Double]("trace_var") == 0.5)
    assert(r(0).getAs[Double]("centroid_norm2") == 0.5)
  }

  test("q160 lexical diversity on a planted histogram is exact") {
    import spark.implicits._
    // lang x: tokens a a b → n=3, vocab=2, Σc²=5,
    // ttr=2/3, simpson=1−5/9, eff_vocab=9/5
    val docs = Seq((1L, "a a b", "x")).toDF("doc_id", "text", "lang")
    val r = TextAnalysis.lexicalDiversityOn(docs).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("n_tokens") == 3L)
    assert(r(0).getAs[Long]("vocab") == 2L)
    assert(r(0).getAs[Long]("sum_sq") == 5L)
    assert(r(0).getAs[Double]("ttr") == 0.666667)
    assert(r(0).getAs[Double]("simpson") == 0.444444)
    assert(r(0).getAs[Double]("eff_vocab") == 1.8)
  }

  test("q174 assoc rules: metrics are consistent ratios and lift is symmetric") {
    val out = graft.ops.Graph.assocRules(spark, sf, minSupport = 2L, topK = 1000)
      .collect()
    assert(out.nonEmpty)
    val byPair = out.map(r => (r.getAs[Long]("u"), r.getAs[Long]("v")) -> r).toMap
    out.foreach { r =>
      assert(r.getAs[Double]("confidence") <= 1.0 + 1e-9)
      assert(r.getAs[Double]("support") > 0.0)
      // lift(u->v) == lift(v->u): same cuv, same denominator product
      byPair.get((r.getAs[Long]("v"), r.getAs[Long]("u"))).foreach { rev =>
        assert(rev.getAs[Double]("lift") == r.getAs[Double]("lift"))
        assert(rev.getAs[Long]("cuv") == r.getAs[Long]("cuv"))
      }
    }
  }

  test("q175 RRF: doc 0 tops the semantic list and scores stay in range") {
    val out = graft.ops.TextAnalysis.rrfFusion(spark, sf).collect()
    assert(out.length == 10)
    // query vector IS vec 0, so doc 0 must carry semantic rank 1
    val d0 = out.find(_.getAs[Long]("doc_id") == 0L)
    assert(d0.forall(_.getAs[Long]("r_sem") == 1L))
    out.foreach { r =>
      val rrf = r.getAs[Double]("rrf")
      assert(rrf > 0.0 && rrf <= 2.0 / 61.0 + 1e-9)
      // a fused doc appears in at least one modality
      assert(r.getAs[Long]("r_lex") > 0L || r.getAs[Long]("r_sem") > 0L)
    }
    // descending by fused score
    val scores = out.map(_.getAs[Double]("rrf")).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("q176 entropy: bounds hold and single-type users score zero") {
    val out = graft.ops.EventAnalytics.typeEntropy(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val h = r.getAs[Double]("entropy_nat")
      val k = r.getAs[Long]("n_types")
      assert(h >= 0.0)
      // Shannon bound: H <= ln(k) (+ quantization slack)
      assert(h <= math.log(k.toDouble) + 1e-6, s"user=${r.get(0)} h=$h k=$k")
      if (k == 1L) assert(h == 0.0)
    }
  }

  test("q177 CUSUM: dev recomputes from the raw prefix sums") {
    val out = graft.ops.EventAnalytics.cusumChangepoint(spark, sf).collect()
    assert(out.length == 5)
    // brute-force the same statistic driver-side
    import org.apache.spark.sql.functions._
    val rev = graft.util.Tables.orders(spark, sf)
      .select(datediff(to_date(col("o_orderdate")),
        lit("1970-01-01").cast("date")).as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy("day").agg((sum(col("p")) * 100).cast("long").as("cents"))
      .orderBy("day").collect().map(r => (r.getAs[Int]("day"), r.getAs[Long]("cents")))
    val nd = rev.length.toLong
    val s = rev.map(x => BigInt(x._2)).sum
    var prefix = BigInt(0)
    val devs = rev.zipWithIndex.map { case ((day, c), i) =>
      prefix += c
      (day, i + 1L, BigInt(nd) * prefix - BigInt(i + 1) * s)
    }
    val top = devs.sortBy { case (day, _, dev) => (-dev.abs, day) }.take(5)
    out.zip(top).foreach { case (r, (day, t, dev)) =>
      assert(java.time.LocalDate.parse(r.getAs[String]("day")).toEpochDay == day.toLong)
      assert(r.getAs[Long]("t") == t)
      val expect = (BigDecimal(dev) / (BigDecimal(nd) * 100))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getAs[Double]("cusum_dollars") - expect) < 0.02)
    }
  }

  test("q180 PCA: Rayleigh quotient reaches the converged top eigenvalue") {
    val (outDf, vArr) = graft.ops.Clustering.pcaPowerImpl(spark, sf)
    val out = outDf.collect()
    assert(out.length == 5)
    // max|weight| must be exactly 1 (the +-1e6 renormalization)
    assert(out.map(r => math.abs(r.getAs[Double]("weight"))).max == 1.0)
    // reference: exact double Gram + 200 power iterations, driver-side
    val vecs = graft.util.Tables.embeddings(spark, sf)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val dim = vecs.head.length
    val g = Array.ofDim[Double](dim, dim)
    vecs.foreach { x =>
      var i = 0
      while (i < dim) {
        var j = 0
        while (j < dim) { g(i)(j) += x(i) * x(j); j += 1 }
        i += 1
      }
    }
    var ref = Array.fill(dim)(1.0)
    (1 to 200).foreach { _ =>
      val w = Array.tabulate(dim)(i =>
        (0 until dim).map(j => g(i)(j) * ref(j)).sum)
      val m = w.map(math.abs).max
      ref = w.map(_ / m)
    }
    def rayleigh(v: Array[Double]): Double = {
      val w = Array.tabulate(dim)(i =>
        (0 until dim).map(j => g(i)(j) * v(j)).sum)
      (0 until dim).map(i => v(i) * w(i)).sum /
        (0 until dim).map(i => v(i) * v(i)).sum
    }
    val lamMax = rayleigh(ref)
    // the engine's 3-iteration vector must capture >= 90% of lambda_max
    val got = vArr.map(_.toDouble)
    val lamGot = rayleigh(got)
    assert(lamGot >= 0.85 * lamMax, s"rayleigh $lamGot < 0.85 x $lamMax")
    // the emitted lambda_micro is the same quotient on the micro-Gram
    // scale: lambda_micro ~ lamGot * 1e6 / n
    val lamCol = out.head.getAs[Double]("lambda_micro")
    val lamExpect = lamGot * 1e6 / vecs.length
    assert(math.abs(lamCol - lamExpect) / lamExpect < 0.05,
      s"lambda got=$lamCol expect=$lamExpect")
  }

  test("q181 streaks: longest run matches a driver-side scan") {
    import org.apache.spark.sql.functions._
    val out = graft.ops.Behavior.activityStreaks(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_streaks"), r.getAs[Long]("longest_streak"),
          r.getAs[Long]("active_days"))).toMap
    val days = graft.util.Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toVector).toMap
    assert(out.keySet == days.keySet)
    days.foreach { case (u, ds) =>
      var longest = 1L; var cur = 1L; var n = 1L
      ds.sliding(2).foreach {
        case Vector(a, b) =>
          if (b == a + 1) { cur += 1; longest = math.max(longest, cur) }
          else { cur = 1; n += 1 }
        case _ =>
      }
      assert(out(u) == ((n, longest, ds.length.toLong)), s"user $u")
    }
  }

  test("q182 watermarked stream dedup emits the batch-distinct key set") {
    val wm = graft.ops.Dedup.streamDedupWatermark(spark, sf)
      .collect().map(_.getLong(0)).toSeq
    val exact = graft.util.Tables.events(spark, sf)
      .select(org.apache.spark.sql.functions.col("user_id")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(wm == exact)
  }

  test("q183 schema evolution: merged read buckets gen-1 rows as UNKNOWN") {
    import org.apache.spark.sql.functions._
    val out = graft.ops.Formats.schemaEvolution(spark, sf).collect()
    val unknown = out.find(_.getAs[String]("status") == "UNKNOWN")
    assert(unknown.isDefined, "gen-1 rows must surface as UNKNOWN")
    val nEven = graft.util.Tables.orders(spark, sf)
      .filter(col("o_orderkey") % 2 === 0).count()
    assert(unknown.get.getAs[Long]("n") == nEven)
    assert(out.map(_.getAs[Long]("n")).sum ==
      graft.util.Tables.orders(spark, sf).count())
  }

  test("q184 parameterized SQL binds values and IDENTIFIER identically to the DataFrame form") {
    import org.apache.spark.sql.functions._
    val viaParams = graft.ops.SqlSuite.paramSql(spark, sf).collect().toSeq
    val direct = graft.util.Tables.lineitem(spark, sf)
      .filter(col("l_quantity") >= 30)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity").cast("decimal(28,6)")), 2)
          .cast("double").as("sum_qty"))
      .orderBy(col("l_returnflag")).collect().toSeq
    assert(viaParams == direct)
  }

  test("q187 ANOVA: F and eta^2 match Spark's builtin variance decomposition") {
    import org.apache.spark.sql.functions._
    val out = graft.ops.EventAnalytics.anovaF(spark, sf).head()
    val ev = graft.util.Tables.events(spark, sf)
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val groups = ev.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val n = ev.length.toDouble
    val k = groups.size.toDouble
    val mean = ev.map(_._2).sum / n
    val ssb = groups.values.map { xs =>
      val m = xs.sum / xs.length
      xs.length * (m - mean) * (m - mean)
    }.sum
    val ssw = groups.values.map { xs =>
      val m = xs.sum / xs.length
      xs.map(x => (x - m) * (x - m)).sum
    }.sum
    val f = (ssb / (k - 1)) / (ssw / (n - k))
    assert(out.getAs[Long]("k") == groups.size.toLong)
    assert(out.getAs[Long]("n") == ev.length.toLong)
    assert(math.abs(out.getAs[Double]("f_stat") - f) / f < 1e-3,
      s"F got=${out.getAs[Double]("f_stat")} ref=$f")
    assert(math.abs(out.getAs[Double]("eta_sq") - ssb / (ssb + ssw)) < 1e-4)
  }

  test("q194 geometric mean: aggregator matches a driver-side computation") {
    val out = graft.ops.EventAnalytics.geoMean(spark, sf).collect()
    val vals = graft.util.Tables.events(spark, sf)
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .filter(_._2 > 0.0)
    val byType = vals.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    out.foreach { r =>
      val et = r.getString(0)
      val xs = byType(et)
      assert(r.getAs[Long]("n") == xs.length.toLong)
      val gm = math.exp(xs.map(math.log).sum / xs.length)
      // output is rounded to 4 dp; nano-nat quantization adds ~1e-9
      assert(math.abs(r.getAs[Double]("geo_mean") - gm) < 1e-4 * (1 + gm),
        s"$et got=${r.getAs[Double]("geo_mean")} ref=$gm")
    }
  }

  test("q195 pipe SQL lowers to the same answer as the DataFrame form") {
    import org.apache.spark.sql.functions._
    val piped = graft.ops.SqlSuite.pipeSql(spark, sf).collect().toSeq
    val direct = graft.util.Tables.lineitem(spark, sf)
      .filter(col("l_quantity") >= 25)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity").cast("decimal(28,6)")), 2)
          .cast("double").as("sum_qty"))
      .orderBy(col("l_returnflag")).collect().toSeq
    assert(piped == direct)
  }

  test("q197 boilerplate: shares bounded and gram totals partition the corpus") {
    val out = graft.ops.TrainingData.boilerplateDensity(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_boiler") <= r.getAs[Long]("n_grams"))
      val s = r.getAs[Double]("boiler_share")
      assert(s >= 0.0 && s <= 1.0)
    }
  }

  test("q198 JS divergence: bounded by ln 2 and covers every source pair") {
    val out = graft.ops.TrainingData.jsDivergence(spark, sf).collect()
    val nSources = graft.util.Tables.documents(spark, sf)
      .select("source").distinct().count().toInt
    assert(out.length == nSources * (nSources - 1) / 2)
    out.foreach { r =>
      val js = r.getAs[Double]("js_nats")
      assert(js >= -1e-9 && js <= math.log(2.0) + 1e-9,
        s"${r.getString(0)}-${r.getString(1)}: $js")
    }
  }

  test("q199 burstiness: bounded in [-1, 1] and gap counts are n_events - 1 per user") {
    val out = graft.ops.EventAnalytics.burstiness(spark, sf).collect()
    val counts = graft.util.Tables.events(spark, sf)
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.nonEmpty)
    out.foreach { r =>
      val u = r.getAs[Long]("user_id")
      assert(r.getAs[Long]("n_gaps") == counts(u) - 1)
      val b = r.getAs[Double]("burstiness")
      assert(b >= -1.0 - 1e-9 && b <= 1.0 + 1e-9, s"user $u: $b")
      assert(r.getAs[Double]("mean_gap_s") > 0.0)
    }
  }

  test("q190 fold balance: folds partition the corpus and shares are consistent") {
    val out = graft.ops.TrainingData.foldBalance(spark, sf).collect()
    val nDocs = graft.util.Tables.documents(spark, sf).count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == nDocs)
    // per language, the fold shares sum to 1
    out.groupBy(_.getAs[String]("lang")).foreach { case (lang, rows) =>
      val s = rows.map(_.getAs[Double]("fold_share_of_lang")).sum
      assert(math.abs(s - 1.0) < 1e-3, s"$lang shares sum to $s")
    }
  }

  test("q191 negative sampling: probabilities follow the 3/4-power law") {
    val rows = graft.ops.TrainingData.negSampling(spark, sf).collect()
    assert(rows.length == 20)
    val ps = rows.map(_.getAs[Double]("p_sample"))
    assert(ps.toSeq == ps.sortBy(-_).toSeq)
    // p ratio ~ (c1/c2)^0.75 for the top two words
    val (c1, c2) = (rows(0).getAs[Long]("c"), rows(1).getAs[Long]("c"))
    val expectRatio = math.pow(c1.toDouble / c2, 0.75)
    val gotRatio = ps(0) / ps(1)
    assert(math.abs(gotRatio - expectRatio) / expectRatio < 0.01)
  }

  test("q192 PSI: buckets partition both cohorts and contributions are non-negative") {
    val rows = graft.ops.Audit.psiDrift(spark, sf).collect()
    val nOrders = graft.util.Tables.orders(spark, sf).count()
    assert(rows.map(r => r.getAs[Long]("n_base") + r.getAs[Long]("n_cur")).sum
      == nOrders)
    rows.foreach { r =>
      assert(r.getAs[Double]("psi_contrib") >= -1e-9)
      assert(r.getAs[Double]("p_base") > 0 && r.getAs[Double]("p_cur") > 0)
    }
  }

  test("q189 Spearman: matches a driver-side average-rank correlation") {
    import org.apache.spark.sql.functions._
    val out = graft.ops.EventAnalytics.spearman(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("spearman")).toMap
    val rows = graft.util.Tables.events(spark, sf)
      .withColumn("k", from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
        .getField("k"))
      .filter(col("k").isNotNull)
      .select("event_type", "value", "k").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    def avgRanks[T](xs: Seq[T])(implicit o: Ordering[T]): Seq[Double] = {
      val sorted = xs.zipWithIndex.sortBy(_._1)
      val rankOf = scala.collection.mutable.Map.empty[Int, Double]
      var i = 0
      while (i < sorted.length) {
        var j = i
        while (j < sorted.length && o.equiv(sorted(j)._1, sorted(i)._1)) j += 1
        val avg = (i + j + 1) / 2.0 // average of ranks i+1..j
        (i until j).foreach(t => rankOf(sorted(t)._2) = avg)
        i = j
      }
      xs.indices.map(rankOf)
    }
    rows.groupBy(_._1).foreach { case (et, grp) =>
      val rv = avgRanks(grp.toSeq.map(_._2))
      val rk = avgRanks(grp.toSeq.map(_._3))
      val n = rv.length.toDouble
      val (mx, my) = (rv.sum / n, rk.sum / n)
      val cov = rv.zip(rk).map { case (a, b) => (a - mx) * (b - my) }.sum
      val sx = math.sqrt(rv.map(a => (a - mx) * (a - mx)).sum)
      val sy = math.sqrt(rk.map(b => (b - my) * (b - my)).sum)
      val rho = cov / (sx * sy)
      assert(math.abs(out(et) - rho) < 1e-3, s"$et got=${out(et)} ref=$rho")
    }
  }

  test("q188 Kendall tau: pair counts partition and tau recomputes exactly") {
    val out = graft.ops.TextAnalysis.rankCorrelation(spark, sf).head()
    val m = out.getAs[Long]("m")
    val c = out.getAs[Long]("concordant")
    val dd = out.getAs[Long]("discordant")
    assert(c + dd == m * (m - 1) / 2, "ranks are distinct: no tie branch")
    if (m >= 2) {
      val tau = out.getAs[Double]("tau")
      assert(tau >= -1.0 && tau <= 1.0)
      val expect = BigDecimal((c - dd).toDouble / (m * (m - 1) / 2).toDouble)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(tau == expect)
    } else {
      // degenerate overlap (sf0.001): tau is NULL by contract
      assert(out.isNullAt(out.fieldIndex("tau")))
    }
  }

  test("q186 JL audit: distortion concentrates near 1 and covers every vector") {
    val out = graft.ops.Similarity.jlAudit(spark, sf).collect()
    val nVecs = graft.util.Tables.embeddings(spark, sf).count()
    assert(out.map(_.getAs[Long]("n")).sum == nVecs)
    out.foreach { r =>
      val b = r.getAs[Long]("bucket")
      assert(r.getAs[Double]("min_ratio") >= b / 10.0 - 1e-9)
      assert(r.getAs[Double]("max_ratio") < (b + 1) / 10.0 + 1e-9)
    }
    // JL concentration: the bulk of vectors distort by less than 2x
    val near1 = out.filter(r => (5L to 19L).contains(r.getAs[Long]("bucket")))
      .map(_.getAs[Long]("n")).sum
    assert(near1.toDouble / nVecs > 0.9, s"only $near1/$nVecs within [0.5, 2)")
  }

  test("q185 conversion lag: percentiles are ordered and counts consistent") {
    val out = graft.ops.Temporal.conversionLag(spark, sf).head()
    val nP = out.getAs[Long]("n_purchases")
    val nC = out.getAs[Long]("n_converted")
    assert(nP > 0 && nC <= nP)
    val (p50, p90, p99) = (out.getAs[Double]("p50_s"),
      out.getAs[Double]("p90_s"), out.getAs[Double]("p99_s"))
    assert(p50 >= 0 && p50 <= p90 && p90 <= p99)
  }

  test("q200 PCA deflation: second component is near-orthogonal with a smaller eigenvalue") {
    val out1 = graft.ops.Clustering.pcaPower(spark, sf).collect()
    val out2 = graft.ops.Clustering.pca2(spark, sf).collect()
    assert(out2.length == 5)
    val lam1 = out1.head.getAs[Double]("lambda_micro")
    val lam2 = out2.head.getAs[Double]("lambda_micro")
    // NOTE lam2 < lam1 need NOT hold: v1 is an 8-iteration iterate
    // (~90 % of lambda_max on this near-degenerate spectrum), so the
    // deflated matrix keeps part of the top direction and its Rayleigh
    // can exceed v1's. The sound bound is Weyl's: g2 = g - c*uu^T with
    // c > 0 only ever LOWERS the top eigenvalue, so lam2 must stay
    // below the converged lambda_max of g.
    val vecs = graft.util.Tables.embeddings(spark, sf)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val dim = vecs.head.length
    val g = Array.ofDim[Double](dim, dim)
    vecs.foreach { x =>
      var i = 0
      while (i < dim) {
        var j = 0
        while (j < dim) { g(i)(j) += x(i) * x(j); j += 1 }
        i += 1
      }
    }
    var ref = Array.fill(dim)(1.0)
    (1 to 200).foreach { _ =>
      val w = Array.tabulate(dim)(i =>
        (0 until dim).map(j => g(i)(j) * ref(j)).sum)
      val m = w.map(math.abs).max
      ref = w.map(_ / m)
    }
    val wRef = Array.tabulate(dim)(i =>
      (0 until dim).map(j => g(i)(j) * ref(j)).sum)
    val lamMax = (0 until dim).map(i => ref(i) * wRef(i)).sum /
      (0 until dim).map(i => ref(i) * ref(i)).sum
    val lamMaxMicro = lamMax * 1e6 / vecs.length
    assert(lam2 > 0 && lam2 <= lamMaxMicro * 1.001,
      s"lam2=$lam2 must stay below lambda_max=$lamMaxMicro (lam1=$lam1)")
    // and the two reported directions must actually differ
    assert(out1.map(r => (r.getAs[Long]("dim"), r.getAs[Double]("weight")))
      .toSeq != out2.map(r => (r.getAs[Long]("dim"),
        r.getAs[Double]("weight"))).toSeq)
  }

  test("q179 observe: side-channel metrics equal a direct aggregation") {
    import org.apache.spark.sql.functions._
    val out = graft.ops.Breadth.observedMetrics(spark, sf).head()
    val direct = graft.util.Tables.lineitem(spark, sf)
      .filter(col("l_quantity") >= 25)
      .agg(count(lit(1)),
        round(sum(col("l_extendedprice").cast("decimal(28,6)")), 2)
          .cast("double"),
        min(col("l_returnflag")), max(col("l_linestatus"))).head()
    assert(out.getAs[Long]("n_passed") == direct.getLong(0))
    assert(out.getAs[Long]("n_rows") == direct.getLong(0))
    assert(out.getAs[Double]("sum_price") == direct.getDouble(1))
    assert(out.getAs[String]("min_flag") == direct.getString(2))
    assert(out.getAs[String]("max_status") == direct.getString(3))
  }

  test("q171 benford: digit counts partition the orders and freqs sum to 1") {
    val out = graft.ops.Audit.benfordAudit(spark, sf).collect()
    assert(out.map(_.getAs[String]("digit")).toSeq == (1 to 9).map(_.toString))
    val nOrders = graft.util.Tables.orders(spark, sf).count()
    assert(out.map(_.getAs[Long]("n")).sum == nOrders)
    val freqSum = out.map(_.getAs[Double]("freq")).sum
    assert(math.abs(freqSum - 1.0) < 1e-5)
    // dev is freq minus the Benford literal, rounded
    out.foreach { r =>
      val dev = r.getAs[Double]("dev")
      val expect = BigDecimal(r.getAs[Double]("freq") - r.getAs[Double]("expected"))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(dev - expect) < 1e-6)
    }
  }
}
