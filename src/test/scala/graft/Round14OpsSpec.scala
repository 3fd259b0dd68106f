package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.{Audit, Clustering, GraphAnn}
import graft.util.BenchNoise

/** Round-14 structural invariants: the gcSweep concurrency contract
  * (sweep vs in-flight winner, losing writer, pinned reader, recency
  * fence), the occCommitNShared hardening (duplicate-name rejection,
  * positional fresh-unit cleanup), and the cross-run bench inflation
  * rule — all on tiny synthetic chains, no sf fixture needed.
  */
class Round14OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def newChain(tag: String): String = {
    val dir = graft.util.TmpDirs.scratch(s"r14-$tag")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/manifest"))
    import spark.implicits._
    Seq(1L, 2L, 3L).toDF("k").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/data/a")
    Seq(("t1", "data/a")).toDF("tbl", "unit").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/manifest/v0")
    dir
  }

  test("gcSweep vs an in-flight WINNER: staged units (fresh and re-listed) survive, the commit then publishes and resolves") {
    val dir = newChain("winner")
    import spark.implicits._
    // the racing writer's state between stage and publish
    Seq(9L).toDF("k").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/data/t1_fresh")
    Seq(("t1", "data/t1_fresh"), ("t2", "data/a"))
      .toDF("tbl", "unit").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/manifest_stage_n1")
    // a genuinely dead unit the sweep must still take
    Seq(0L).toDF("k").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/data/dead")
    val (kept, swept, fenced) = Audit.gcSweep(spark, dir, keep = Set(0L), graceMs = 0L)
    assert(kept.toSet == Set("a", "t1_fresh"), s"kept $kept")
    assert(swept == Seq("dead") && fenced.isEmpty)
    // the writer completes: publish, then the snapshot must resolve
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$dir/manifest_stage_n1"),
      java.nio.file.Paths.get(s"$dir/manifest/v1"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val v1 = Audit.readNSnapshot(spark, dir, 1L)
    assert(v1("t1").count() == 1L && v1("t2").count() == 3L)
  }

  test("gcSweep vs a LOSING writer: the loser cleans only its own fresh units; the shared unit and the chain survive") {
    val dir = newChain("loser")
    import spark.implicits._
    val head = new java.util.concurrent.atomic.AtomicLong(0L)
    // expected=5 != head → the commit must lose without publishing
    val won = Audit.occCommitNShared(spark, dir, head, expected = 5L,
      Seq("t1" -> Left("data/a"), "t2" -> Right(Seq(7L).toDF("k"))))
    assert(!won && head.get() == 0L)
    // loser's fresh unit is gone, the shared unit is byte-intact
    val units = Option(new java.io.File(s"$dir/data").list())
      .getOrElse(Array.empty[String]).toSet
    assert(units == Set("a"), s"units after losing writer: $units")
    // and a sweep after the loss sees a consistent chain
    val (kept, swept, _) = Audit.gcSweep(spark, dir, keep = Set(0L), graceMs = 0L)
    assert(kept == Seq("a") && swept.isEmpty)
    assert(Audit.readNSnapshot(spark, dir, 0L)("t1").count() == 3L)
  }

  test("gcSweep honors PINNED readers and refuses to expire everything") {
    val dir = newChain("pinned")
    import spark.implicits._
    val head = new java.util.concurrent.atomic.AtomicLong(0L)
    assert(Audit.occCommitNShared(spark, dir, head, 0L,
      Seq("t1" -> Right(Seq(4L, 5L).toDF("k")))))
    // keep only the head, but a reader has v0 pinned (q341 discipline)
    val (kept, swept, _) =
      Audit.gcSweep(spark, dir, keep = Set(1L), pinned = Set(0L),
        graceMs = 0L)
    assert(swept.isEmpty && kept.size == 2)
    assert(Audit.readNSnapshot(spark, dir, 0L)("t1").count() == 3L)
    assert(Audit.readNSnapshot(spark, dir, 1L)("t1").count() == 2L)
    // without the pin, v0 expires and its unit sweeps
    val (kept2, swept2, _) = Audit.gcSweep(spark, dir, keep = Set(1L), graceMs = 0L)
    assert(swept2 == Seq("a") && kept2.size == 1)
    intercept[IllegalArgumentException] {
      Audit.gcSweep(spark, dir, keep = Set(99L), graceMs = 0L)
    }
  }

  test("gcSweep recency fence: an unreferenced young unit survives, an aged one sweeps") {
    val dir = newChain("grace")
    import spark.implicits._
    Seq(1L).toDF("k").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/data/orphan_young")
    Seq(1L).toDF("k").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/data/orphan_old")
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$dir/data/orphan_old"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2L * 3600 * 1000))
    val (kept, swept, fenced) =
      Audit.gcSweep(spark, dir, keep = Set(0L), graceMs = 3600 * 1000L)
    assert(kept == Seq("a"))
    assert(swept == Seq("orphan_old") && fenced == Seq("orphan_young"))
  }

  test("occCommitNShared rejects duplicate table names before staging anything") {
    val dir = newChain("dup")
    import spark.implicits._
    val head = new java.util.concurrent.atomic.AtomicLong(0L)
    intercept[IllegalArgumentException] {
      Audit.occCommitNShared(spark, dir, head, 0L,
        Seq("t1" -> Left("data/a"), "t1" -> Right(Seq(7L).toDF("k"))))
    }
    val units = Option(new java.io.File(s"$dir/data").list())
      .getOrElse(Array.empty[String]).toSet
    assert(units == Set("a") && head.get() == 0L)
  }

  test("q339/q341 streaming serves ride the bucketed snapshot: per-batch hop-plan witness true, replay witness measured") {
    val sf = "/root/testdata/sf0.001"
    val fold = GraphAnn.ensureHnswStreamFold(spark, sf)
    assert(fold.forall(_._6),
      s"a q339 batch hopped with an edge-side Exchange: $fold")
    val restart = GraphAnn.ensureHnswServeRestart(spark, sf)
    assert(restart.forall(_._7),
      s"a q341 batch hopped with an edge-side Exchange: $restart")
    // the replay column is the sink's own record of the pin firing
    assert(restart.map(_._3) == Seq(false, true, false),
      s"measured replay witnesses: ${restart.map(_._3)}")
  }

  test("q347 incremental fold: clean partitions byte-pinned, only flagged ever=2 dirs appended, hop still shuffle-free") {
    val sf = "/root/testdata/sf0.001"
    val f = GraphAnn.ensureIncrementalFold(spark, sf)
    assert(f == Seq(true, true, true, true, true), s"witnesses: $f")
    // the physical claim: the incrementally-built table's ever=2 dirs
    // are exactly the flagged layers (same check Round13 pins on q342)
    val name = Clustering.tableNameFor("graft_gdpr_inc_", sf)
    val loc = Clustering.tableLocation(spark, name)
    val ever2 = Option(loc.resolve("ever=2").toFile.list())
      .getOrElse(Array.empty[String])
      .filter(_.startsWith("layer="))
      .map(_.stripPrefix("layer=").toInt).toSet
    assert(ever2 == Set(0, 1), s"appended ever=2 partitions: $ever2")
  }

  test("q346 maintenance loop: the measurement commits the hot fold, the control never writes a byte") {
    val sf = "/root/testdata/sf0.001"
    val rows = GraphAnn.ensureMaintLoop(spark, sf)
    val hot = rows.filter(_._1 == "hot")
    val ctl = rows.filter(_._1 == "ctl")
    // hot: batch 0 measures at v1, fires, commits; batches 1-2 serve v2
    assert(hot.map(r => (r._2, r._3, r._4, r._5)) ==
      Seq((0L, 1L, true, true), (1L, 2L, false, false),
        (2L, 2L, false, false)), s"hot ledger: $hot")
    // ctl: quiet at v1 throughout, table bytes pinned
    assert(ctl.forall(r => r._3 == 1L && !r._4 && !r._5 && r._8),
      s"ctl ledger: $ctl")
    rows.foreach { r =>
      assert(r._6, s"${r._1} batch ${r._2} diverged from its reference")
      assert(r._7, s"${r._1} batch ${r._2} self-probe state wrong")
    }
    // physical: only the hot table grew an ever=2 partition dir
    def hasEver2(name: String): Boolean = java.nio.file.Files.exists(
      Clustering.tableLocation(spark, name).resolve("ever=2"))
    assert(hasEver2(Clustering.tableNameFor("graft_maint_hot_", sf)))
    assert(!hasEver2(Clustering.tableNameFor("graft_maint_ctl_", sf)))
  }

  test("q349 partition GC: exactly the superseded flagged ever=1 dirs sweep; clean shared partitions and the head serve survive") {
    val sf = "/root/testdata/sf0.001"
    val (kept, swept, flags) = GraphAnn.ensurePartitionGc(spark, sf)
    assert(swept == 2L, s"swept $swept") // the two flagged layers
    assert(flags == Seq(true, true, true, true), s"witnesses: $flags")
    // physical: flagged ever=1 dirs gone, clean ever=1 + flagged
    // ever=2 dirs present — the live set the head predicate maps
    val loc = Clustering.tableLocation(spark,
      Clustering.tableNameFor("graft_gdpr_ret_", sf))
    def layersUnder(e: String): Set[Int] =
      Option(loc.resolve(e).toFile.list()).getOrElse(Array.empty[String])
        .filter(_.startsWith("layer="))
        .map(_.stripPrefix("layer=").toInt).toSet
    val e1 = layersUnder("ever=1")
    val e2 = layersUnder("ever=2")
    assert(e2 == Set(0, 1), s"ever=2 dirs: $e2")
    assert(e1.intersect(Set(0, 1)).isEmpty && e1.size == kept - 2,
      s"ever=1 dirs after sweep: $e1 (kept=$kept)")
  }

  test("the (ever, layer) snapshot predicate prunes at SCAN PLANNING: PartitionFilters carry it") {
    val sf = "/root/testdata/sf0.001"
    GraphAnn.ensureIncrementalFold(spark, sf) // table built + folded
    val name = Clustering.tableNameFor("graft_gdpr_inc_", sf)
    val resolveV2 = col("ever") ===
      when(col("layer").isin(0, 1), 2).otherwise(1)
    val df = spark.table(name)
      .filter(resolveV2 && col("layer") === 0).select(col("src"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.map(_.trim)
      .find(_.contains("PartitionFilters: [")).getOrElse("")
    // the snapshot resolution is evaluated against partition COLUMNS
    // at planning — no data row is read to decide the version
    assert(pf.contains("ever") && pf.contains("layer"),
      s"snapshot predicate missing from PartitionFilters:\n$plan")
  }

  test("q348 trigger action: the drift chain's measurement commits the refresh, the control commits nothing") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.ops.IndexKind.triggerAction(spark, sf, Clustering.IvfIndex)
    assert(rows == Seq(
      ("ctl", false, 0L, true, true, true),
      ("drift", true, 1L, true, true, true)), s"ledger: $rows")
  }

  test("q350 maintenance crash-restart: the replay finds the staged fold, publishes without re-appending") {
    val sf = "/root/testdata/sf0.001"
    val rows = GraphAnn.ensureMaintRestart(spark, sf)
    assert(rows.map(r => (r._1, r._2, r._3, r._4, r._5)) == Seq(
      (0L, 1L, true, true, true),
      (1L, 2L, false, false, false),
      (2L, 2L, false, false, false)), s"batch ledger: $rows")
    rows.foreach { r =>
      assert(r._6, s"batch ${r._1} diverged from its reference")
      assert(r._7, s"batch ${r._1} self-probe state wrong for v${r._2}")
      assert(r._8, s"batch ${r._1}: fold rows duplicated (double append)")
    }
  }

  test("bench inflation rule: uniform steal flags, real-but-local regressions and quiet rounds do not") {
    def mk(n: Int, f: Int => Double): Map[String, Double] =
      (1 to n).map(i => s"q$i" -> f(i)).toMap
    val prior = mk(40, _ => 1.0)
    // uniform 1.3× inflation over the shared surface → flagged
    val steal = BenchNoise.inflationVsPrior(mk(40, _ => 1.3), prior)
    assert(steal.inflated && steal.sharedQueries == 40)
    // three genuinely regressed queries (3×) in a quiet run → quiet
    val local = BenchNoise.inflationVsPrior(
      mk(40, i => if (i <= 3) 3.0 else 1.0), prior)
    assert(!local.inflated)
    // a faster round → quiet
    assert(!BenchNoise.inflationVsPrior(mk(40, _ => 0.9), prior).inflated)
    // half slower / half faster (normal variance) → quiet
    assert(!BenchNoise.inflationVsPrior(
      mk(40, i => if (i % 2 == 0) 1.2 else 0.9), prior).inflated)
    // no prior artifact → quiet by construction
    assert(!BenchNoise.inflationVsPrior(mk(40, _ => 9.0), Map.empty).inflated)
    // sub-floor priors are excluded from the comparison
    val tiny = BenchNoise.inflationVsPrior(
      mk(40, _ => 0.19 * 5), mk(40, _ => 0.19))
    assert(tiny.sharedQueries == 0 && !tiny.inflated)
  }
}
