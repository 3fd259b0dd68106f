package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.{Clustering, GraphAnn, IndexKind}
import graft.util.BenchNoise

/** Round-15 structural invariants: the O(manifest) maintenance check
  * (stamped stats, trigger rule, manifest-only plan witness) and the
  * tightened bench-inflation baseline — the latter spec'd ON THE
  * COMMITTED ARTIFACTS, reproducing the r14 adjudications without
  * running a bench.
  */
class Round15OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("readMaintManifest: stamped stats parse, the trigger rule applies, and the plan witness sees only the manifest") {
    import spark.implicits._
    val dir = graft.util.TmpDirs.scratch("r15-maintmanifest")
    // 3 layers: l0 hot (25% ghosts), l1 quiet (5%), l2 empty
    Seq((0L, 1, 400L, 100L), (1L, 1, 400L, 20L), (2L, 1, 0L, 0L))
      .toDF("layer", "ever", "n_edges", "ghost_edges").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/v1")
    val (rows, manifestOnly) =
      GraphAnn.readMaintManifest(spark, s"$dir/v1")
    assert(rows == Map(0L -> ((1, 400L, 100L)), 1L -> ((1, 400L, 20L)),
      2L -> ((1, 0L, 0L))))
    assert(manifestOnly, "the check's plan must scan only the manifest")
    // the integer rule: ghost share ≥ 10% flags; zero-edge layers never
    assert(GraphAnn.flaggedFromStats(rows) == Set(0))
    // all quiet → no flag → no fire
    val quiet = rows.map { case (l, (e, n, _)) => l -> ((e, n, 0L)) }
    assert(GraphAnn.flaggedFromStats(quiet).isEmpty)
  }

  test("bench inflation baseline: r14's steal-window final run FLAGS against the min-of-eligible floor (the r14-advice miss), the quiet run does not") {
    def artifact(path: String): BenchNoise.Artifact =
      BenchNoise.parseArtifact(java.nio.file.Files.readString(
        java.nio.file.Paths.get(path)))
    val recorded = Seq(11, 12, 13, 14).map(r =>
      r -> artifact(s"BENCH_HISTORY/bench_r$r.json"))
    val sf = "/root/testdata/sf0.1"
    // r11 self-labeled noisy → excluded; r12/r13/r14 form the floor
    val (rounds, priorQ, _) = BenchNoise.baseline(recorded, sf)
    assert(rounds.sorted == Seq(12, 13, 14), s"baseline rounds: $rounds")
    // the r14 steal-window closing run (244.4 s) measured 1.08/0.69
    // against the single polluted r13 prior — under the 1.15/0.7 bars.
    // Against the min-of-eligible floor it must flag.
    val steal = artifact("bench_r14_final350.json").queries
    val i = BenchNoise.inflationVsPrior(steal, priorQ)
    assert(i.inflated,
      s"steal run must flag: median ${i.medianRatio}, frac ${i.fracSlower}")
    // the quiet r14 run (208.9 s) against ITS eligible floor at the
    // time (r12/r13) stays un-flagged — the r14 judge's adjudication
    val (rounds2, priorQ2, _) =
      BenchNoise.baseline(recorded.filter(_._1 <= 13), sf)
    assert(rounds2.sorted == Seq(12, 13))
    val quiet = BenchNoise.inflationVsPrior(
      artifact("BENCH_HISTORY/bench_r14.json").queries, priorQ2)
    assert(!quiet.inflated,
      s"quiet run must not flag: median ${quiet.medianRatio}, " +
        s"frac ${quiet.fracSlower}")
    // …and r13's own committed artifact (the ORIGINAL miss) flags
    // against r12 — the rule now catches both historical escapes
    val r13 = BenchNoise.inflationVsPrior(
      recorded.find(_._1 == 13).get._2.queries,
      BenchNoise.baseline(recorded.filter(_._1 <= 12), sf)._2)
    assert(r13.inflated,
      s"r13 artifact must flag: median ${r13.medianRatio}, " +
        s"frac ${r13.fracSlower}")
  }

  test("bench inflation baseline: sf-mismatched and self-labeled-polluted artifacts are never baselines") {
    val qs = Map("q1" -> 1.0, "q2" -> 2.0)
    val good = BenchNoise.Artifact(Some("sfA"), noisy = false,
      inflatedVsPrior = false, qs, Map.empty)
    val wrongSf = good.copy(sf = Some("sfB"), queries = Map("q1" -> 0.1))
    val noisy = good.copy(noisy = true, queries = Map("q1" -> 0.1))
    val inflated = good.copy(inflatedVsPrior = true,
      queries = Map("q1" -> 0.1))
    val (rounds, priorQ, _) = BenchNoise.baseline(
      Seq(1 -> good, 2 -> wrongSf, 3 -> noisy, 4 -> inflated), "sfA")
    assert(rounds == Seq(1) && priorQ == qs)
    // cross-scale comparison is skipped entirely when nothing matches
    val (r2, q2, _) = BenchNoise.baseline(Seq(2 -> wrongSf), "sfA")
    assert(r2.isEmpty && q2.isEmpty)
    assert(!BenchNoise.inflationVsPrior(Map("q1" -> 9.0), q2).inflated)
    // newest-first, capped at 3 baselines
    val many = (1 to 5).map(r => r -> good.copy(
      queries = Map("q1" -> r.toDouble)))
    val (r3, q3, _) = BenchNoise.baseline(many, "sfA")
    assert(r3 == Seq(5, 4, 3) && q3 == Map("q1" -> 3.0))
  }

  test("near-bar band labels suspect without flipping inflated") {
    def mk(f: Int => Double): Map[String, Double] =
      (1 to 40).map(i => s"q$i" -> f(i)).toMap
    val prior = mk(_ => 1.0)
    val near = BenchNoise.inflationVsPrior(mk(_ => 1.12), prior)
    assert(near.suspect && !near.inflated)
    val quiet = BenchNoise.inflationVsPrior(
      mk(i => if (i % 2 == 0) 1.05 else 0.95), prior)
    assert(!quiet.suspect && !quiet.inflated)
  }

  test("retentionRun rejects an unknown chain layout before touching anything") {
    import graft.ops.Audit
    val e = intercept[IllegalArgumentException] {
      Audit.retentionRun(spark, Seq(Audit.RetentionPolicy(
        "bad", "blobs", "/nonexistent", keep = Set(0L))))
    }
    assert(e.getMessage.contains("unknown retention layout"))
  }

  test("q344 capstone: the graph family is INSIDE the one atom — edge units re-listed by name, registry pair sharing the corpus unit") {
    val sf = "/root/testdata/sf0.001"
    val (root, head, basesShared, contracts) =
      graft.ops.Clustering.ensureErasureCapstoneCommit(spark, sf)
    assert(head == 1L && basesShared)
    assert(contracts.keySet == Set("ivf", "pq", "bin", "graph"))
    assert(contracts.values.forall(identity), s"contracts: $contracts")
    val u0 = graft.ops.Audit.manifestUnits(spark, root, 0L)
    val u1 = graft.ops.Audit.manifestUnits(spark, root, 1L)
    // genesis unit sharing: the registry pair AND the corpus name ONE
    // unit; v1 re-lists the registry base and every edge unit by name
    assert(u0("graph_reg") == u0("corpus") &&
      u0("graph_base") == u0("corpus"))
    assert(u1("graph_base") == u0("graph_base"))
    val edgeKeys = u0.keySet.filter(_.startsWith("graph_edge_l"))
    assert(edgeKeys.nonEmpty)
    assert(edgeKeys.forall(k => u1(k) == u0(k)),
      "an edge unit was re-staged — the MoR zero-byte promise broke")
    // the two versions' manifests name DIFFERENT registry units (the
    // CoW flip) but the SAME dominant bytes
    assert(u1("graph_reg") != u0("graph_reg"))
  }

  test("q346/q350 O(manifest) check: every trigger's plan witness and the stamped-equals-recomputed audit hold at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val loop = GraphAnn.ensureMaintLoop(spark, sf)
    assert(loop.forall(_._9),
      s"a q346 trigger's check scanned beyond the manifest: $loop")
    assert(loop.forall(_._10),
      s"a q346 chain's stamped stats diverged from recomputation: $loop")
    val rst = GraphAnn.ensureMaintRestart(spark, sf)
    assert(rst.forall(_._9) && rst.forall(_._10),
      s"q350 manifest-check witnesses failed: $rst")
  }

  test("q353 IVF maintenance loop: the ingest lands, the stamped check fires once on the drift chain, the control stays pinned") {
    val sf = "/root/testdata/sf0.001"
    val rows = IndexKind.maintLoop(spark, sf, Clustering.IvfIndex)
    val byChain = rows.groupBy(_._1)
    // version sequence: drift 0→1→2, ctl 0→1→1
    assert(byChain("drift").map(_._3) == Seq(0L, 1L, 2L))
    assert(byChain("ctl").map(_._3) == Seq(0L, 1L, 1L))
    // the trigger fires exactly once, on the drift chain at v1
    assert(rows.filter(_._5).map(r => (r._1, r._2)) == Seq(("drift", 1L)))
    assert(rows.filter(_._6).map(r => (r._1, r._2)) == Seq(("drift", 1L)))
    // every batch: serve equality, ctl pin, meta-only witness, head
    rows.foreach { r =>
      assert(r._7, s"${r._1} batch ${r._2} diverged from its reference")
      assert(r._8, s"${r._1} serving units not pinned")
      assert(r._9, s"${r._1} batch ${r._2} check scanned beyond meta")
      assert(r._10, s"${r._1} head serve incomplete")
    }
    // the at-scale corpus split: the never-re-embedded base unit is
    // name-shared through EVERY drift commit (zero unchanged-corpus
    // bytes staged); only the delta unit replaces, exactly once
    val droot = graft.util.TmpDirs.pathFor("ivf_maint_drift", sf)
    val u = (0L to 2L).map(v =>
      graft.ops.Audit.manifestUnits(spark, droot, v))
    assert(u.map(_("corpus_base")).distinct.size == 1,
      "the corpus base unit was re-staged")
    assert(u(1)("corpus_delta") != u(0)("corpus_delta"),
      "the ingest must replace the delta unit")
    assert(u(2)("corpus_delta") == u(1)("corpus_delta"),
      "the refresh must re-list the delta by name")
  }

  test("q357 binary maintenance loop: delta-only ingest, one firing re-sign, control fully re-listed") {
    val sf = "/root/testdata/sf0.001"
    val rows = IndexKind.maintLoop(spark, sf, Clustering.BinIndex)
    val byChain = rows.groupBy(_._1)
    assert(byChain("drift").map(_._3) == Seq(0L, 1L, 2L))
    assert(byChain("ctl").map(_._3) == Seq(0L, 1L, 1L))
    assert(rows.filter(_._5).map(r => (r._1, r._2)) == Seq(("drift", 1L)))
    assert(rows.filter(_._6).map(r => (r._1, r._2)) == Seq(("drift", 1L)))
    rows.foreach { r =>
      assert(r._7 && r._8 && r._9 && r._10,
        s"${r._1} batch ${r._2} witnesses: $r")
    }
    // delta-only ingest: base corpus AND base codes AND thresholds
    // name-shared v0→v1 on the drift chain; the re-sign at v2
    // replaces both code units and the thresholds, corpus unchanged
    val droot = graft.util.TmpDirs.pathFor("bin_maint_drift", sf)
    val u = (0L to 2L).map(v =>
      graft.ops.Audit.manifestUnits(spark, droot, v))
    Seq("corpus_base", "codes_base", "thr").foreach { k =>
      assert(u(1)(k) == u(0)(k), s"$k re-staged by the ingest") }
    assert(u(1)("corpus_delta") != u(0)("corpus_delta"))
    assert(u(1)("codes_delta") != u(0)("codes_delta"))
    Seq("corpus_base", "corpus_delta").foreach { k =>
      assert(u(2)(k) == u(1)(k), s"$k re-staged by the re-sign") }
    Seq("codes_base", "codes_delta", "thr").foreach { k =>
      assert(u(2)(k) != u(1)(k), s"$k must refresh with the thresholds") }
  }

  test("q361 PQ maintenance loop: delta-only ingest, one firing re-quantization, every serve pushes the cell filter") {
    val sf = "/root/testdata/sf0.001"
    val rows = IndexKind.maintLoop(spark, sf, Clustering.PqIndex)
    val byChain = rows.groupBy(_._1)
    assert(byChain("drift").map(_._3) == Seq(0L, 1L, 2L))
    assert(byChain("ctl").map(_._3) == Seq(0L, 1L, 1L))
    assert(rows.filter(_._5).map(r => (r._1, r._2)) == Seq(("drift", 1L)))
    assert(rows.filter(_._6).map(r => (r._1, r._2)) == Seq(("drift", 1L)))
    // serve equality, ctl pin, meta-only check, cell-filter pushdown
    rows.foreach { r =>
      assert(r._7 && r._8 && r._9 && r._10,
        s"${r._1} batch ${r._2} witnesses: $r")
    }
    // delta-only ingest: the base corpus, base codes and codebook are
    // name-shared v0→v1; the re-quantization at v2 replaces both code
    // units and the codebook, the corpus units re-list by name
    val droot = graft.util.TmpDirs.pathFor("pq_maint_drift", sf)
    val u = (0L to 2L).map(v =>
      graft.ops.Audit.manifestUnits(spark, droot, v))
    Seq("corpus_base", "codes_base", "cb").foreach { k =>
      assert(u(1)(k) == u(0)(k), s"$k re-staged by the ingest") }
    assert(u(1)("corpus_delta") != u(0)("corpus_delta"))
    assert(u(1)("codes_delta") != u(0)("codes_delta"))
    Seq("corpus_base", "corpus_delta").foreach { k =>
      assert(u(2)(k) == u(1)(k), s"$k re-staged by the re-quantization") }
    Seq("codes_base", "codes_delta", "cb").foreach { k =>
      assert(u(2)(k) != u(1)(k), s"$k must refresh with the codebook") }
  }

  test("q363 maintenance scheduler: one pass per trigger fires and acts on both families at batch 0, both quiet at batch 1") {
    val sf = "/root/testdata/sf0.001"
    val rows = IndexKind.scheduler(spark, sf,
      Seq(Clustering.IvfIndex, Clustering.BinIndex))
    assert(rows.map(r => (r._1, r._2, r._3, r._4, r._5)) == Seq(
      ("ivf", 0L, 0L, true, true), ("ivf", 1L, 1L, false, false),
      ("binary", 0L, 0L, true, true), ("binary", 1L, 1L, false, false)),
      s"scheduler ledger: $rows")
    rows.foreach { r =>
      assert(r._6, s"${r._1} batch ${r._2} diverged from its reference")
      assert(r._7, s"${r._1} batch ${r._2} check scanned beyond meta")
      assert(r._8, s"${r._1} batch ${r._2}: not one scheduler pass per trigger")
    }
  }

  test("q355/q356: the PQ and binary triggers ACT on drift and stay quiet on the control") {
    val sf = "/root/testdata/sf0.001"
    val pq = IndexKind.triggerAction(spark, sf, Clustering.PqIndex)
    assert(pq == Seq(("ctl", false, 0L, true, true, true),
      ("drift", true, 1L, true, true, true)), s"pq ledger: $pq")
    val bin = IndexKind.triggerAction(spark, sf, Clustering.BinIndex)
    assert(bin == Seq(("ctl", false, 0L, true, true, true),
      ("drift", true, 1L, true, true, true)), s"bin ledger: $bin")
  }
}
