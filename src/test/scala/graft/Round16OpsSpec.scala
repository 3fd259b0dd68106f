package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.{Audit, Clustering, GraphAnn, IndexKind}
import graft.util.PlanWitness

/** Round-16 structural invariants: the strict-at-zero stamped rule,
  * the shared plan-witness helper, the partition-form sweep fences,
  * the time-window keep derivation, and the composed code tables'
  * physical partition pruning.
  */
class Round16OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  /** One stamp probe = one fresh root: manifest versions are
    * write-once by protocol (and their mounts memoized — Mounts), so
    * the spec must not rewrite v0 in place at a reused path.
    */
  private def metaRoot(tag: String, meta: org.apache.spark.sql.DataFrame)
      : String = {
    import spark.implicits._
    val root = graft.util.TmpDirs.scratch(s"r16-strictzero-$tag")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/manifest"))
    meta.coalesce(1).write.mode("overwrite").parquet(s"$root/data/meta_0")
    Seq(("meta", "data/meta_0")).toDF("tbl", "unit").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/manifest/v0")
    root
  }

  /** The IVF/PQ stamp (dist_head_us, dist_refreshed_us) under check. */
  private def ivfCheck(tag: String, fa: Long, fb: Long): (Boolean, Boolean) = {
    import spark.implicits._
    IndexKind.check(spark, metaRoot(tag,
      Seq((fa, fb)).toDF("dist_head_us", "dist_refreshed_us")), 0L,
      Clustering.IvfIndex)
  }

  test("stamped trigger rule is strict at zero: a (0, 0) quiet stamp never re-fires, a hot stamp does, a sub-2x stamp does not") {
    // converged/empty chain: fa = fb = 0
    val (zeroFires, w0) = ivfCheck("zero", 0L, 0L)
    assert(!zeroFires, "fa = fb = 0 satisfies fa >= 2*fb — the strict " +
      "guard must keep a converged chain quiet")
    assert(w0, "the meta read must carry the plan witness")
    assert(ivfCheck("hot", 10L, 5L)._1)
    assert(!ivfCheck("sub2x", 10L, 6L)._1)
    // the binary rule (imb_head ≥ 2·imb_refreshed ∧ 4·imb_head ≥ n)
    // holds at (0, 0, 0) too: an empty binary chain must stay quiet
    import spark.implicits._
    val (binZeroFires, wb) = IndexKind.check(spark, metaRoot("bin-zero",
      Seq((0L, 0L, 0L)).toDF("imb_head", "imb_refreshed", "n_total")), 0L,
      Clustering.BinIndex)
    assert(!binZeroFires, "(0, 0, 0) satisfies both binary conditions — " +
      "the strict guard must keep an empty binary chain quiet")
    assert(wb, "the binary meta read must carry the plan witness")
  }

  test("PlanWitness: scanOnly pins a single-dir scan, rejects a two-dir plan; scanOnlyWithin admits the declared set") {
    import spark.implicits._
    val a = graft.util.TmpDirs.scratch("r16-witness-a")
    val b = graft.util.TmpDirs.scratch("r16-witness-b")
    Seq(1L).toDF("x").write.mode("overwrite").parquet(a)
    Seq(2L).toDF("x").write.mode("overwrite").parquet(b)
    val one = spark.read.parquet(a)
    assert(PlanWitness.scanOnly(one, a))
    assert(!PlanWitness.scanOnly(one, b))
    val two = spark.read.parquet(a).unionByName(spark.read.parquet(b))
    assert(!PlanWitness.scanOnly(two, a),
      "a plan that also scans b must fail the single-dir witness")
    assert(PlanWitness.scanOnlyWithin(two, Seq(a, b)))
    assert(!PlanWitness.scanOnlyWithin(two, Seq(a)))
  }

  test("Mounts: memoized mount returns the same rows and the same instance; a scratch() wipe invalidates mounts under the path") {
    import spark.implicits._
    val p = graft.util.TmpDirs.scratch("r16-mounts")
    Seq(1L, 2L).toDF("x").write.mode("overwrite").parquet(s"$p/u")
    val m1 = graft.util.Mounts.parquet(spark, s"$p/u")
    assert(m1.as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(graft.util.Mounts.parquet(spark, s"$p/u") eq m1,
      "second mount of an immutable path must be the memoized instance")
    // the wipe ends the path's write-once lifetime: the next mount
    // must see the NEW bytes, not the memoized file list
    val p2 = graft.util.TmpDirs.scratch("r16-mounts")
    Seq(7L).toDF("x").write.mode("overwrite").parquet(s"$p2/u")
    assert(graft.util.Mounts.parquet(spark, s"$p2/u")
      .as[Long].collect().toSeq == Seq(7L))
  }

  test("partitionGcSweep fences: a staged manifest's aged pairs survive (fence 1), a young orphan is fenced (fence 2), an old orphan sweeps") {
    import spark.implicits._
    val name = "graft_r16_pgc_fence"
    Clustering.dropAndCleanLocation(spark, name)
    Seq((1L, 1, 0L), (2L, 1, 1L), (3L, 2, 0L))
      .toDF("src", "ever", "layer")
      .write.mode("overwrite").format("parquet")
      .partitionBy("ever", "layer").saveAsTable(name)
    val loc = Clustering.tableLocation(spark, name)
    val mdir = graft.util.TmpDirs.scratch("r16-pgc-mdir")
    Seq((0L, 1), (1L, 1)).toDF("layer", "ever").coalesce(1)
      .write.mode("overwrite").parquet(s"$mdir/v1")
    // the in-flight fold: (ever=2, layer=0) staged but not published
    Seq((0L, 2)).toDF("layer", "ever").coalesce(1)
      .write.mode("overwrite").parquet(s"$mdir/v2_stage")
    // orphans: (9,0) old → sweeps, (8,0) young → fenced
    Seq(9L).toDF("src").coalesce(1).write
      .parquet(loc.resolve("ever=9").resolve("layer=0").toString)
    Seq(8L).toDF("src").coalesce(1).write
      .parquet(loc.resolve("ever=8").resolve("layer=0").toString)
    for {
      e <- Option(loc.toFile.list()).getOrElse(Array.empty[String])
      if e.startsWith("ever=")
      l <- Option(loc.resolve(e).toFile.list())
        .getOrElse(Array.empty[String])
      if l.startsWith("layer=") && (e, l) != (("ever=8", "layer=0"))
    } java.nio.file.Files.setLastModifiedTime(
      loc.resolve(e).resolve(l),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2L * 3600 * 1000))
    val (kept, swept, fenced) = GraphAnn.partitionGcSweep(spark, mdir,
      name, keep = Set(1L), graceMs = 3600 * 1000L)
    assert(kept == Set((1, 0L), (1, 1L), (2, 0L)),
      s"v1 pairs + the STAGED (aged) fold pair must stay live: $kept")
    assert(swept == Set((9, 0L)), s"only the old orphan sweeps: $swept")
    assert(fenced == Set((8, 0L)), s"the young orphan is fenced: $fenced")
    assert(java.nio.file.Files.isDirectory(
      loc.resolve("ever=2").resolve("layer=0")),
      "the in-flight fold's partition must survive on disk")
  }

  test("retentionRun derives the keep-set from the manifest mtime window and composes it with pins") {
    import spark.implicits._
    val root = graft.util.TmpDirs.scratch("r16-tw-chain")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/manifest"))
    Seq(1L).toDF("n").write.mode("overwrite").parquet(s"$root/data/u0")
    Seq(2L).toDF("n").write.mode("overwrite").parquet(s"$root/data/u1")
    Seq(("t", "data/u0")).toDF("tbl", "unit").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/manifest/v0")
    Seq(("t", "data/u1")).toDF("tbl", "unit").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/manifest/v1")
    val old = System.currentTimeMillis() - 2L * 3600 * 1000
    Seq(s"$root/manifest/v0", s"$root/data/u0", s"$root/data/u1")
      .foreach(p => java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(p),
        java.nio.file.attribute.FileTime.fromMillis(old)))
    val ledger = Audit.retentionRun(spark, Seq(
      Audit.RetentionPolicy("tw", "units", root, keep = Set.empty,
        keepNewerThanMs = 3600 * 1000L)))
    assert(ledger == Seq(("tw", "units", 1L, 1L, 0L)),
      s"v1 (in-window) kept, v0's unit swept: $ledger")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/manifest/v0")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/data/u1")))
  }

  test("composed IVF-PQ index: one partition dir per coarse cell, and a probed-cell scan plans exactly the probed partitions") {
    val idx = Clustering.ensureIvfPqIndex(spark, sf)
    val cells = Clustering.tableCellSet(spark, idx)
    assert(cells.size > 2, s"expected many coarse cells, got $cells")
    val probe = cells.toSeq.sorted.take(2)
    val pruned = spark.table(idx)
      .filter(col("cell").isin(probe: _*))
    assert(Clustering.scannedPartitionCount(pruned) == 2L,
      "the pruned scan must plan exactly the two probed partitions")
    assert(Clustering.scannedPartitionCount(spark.table(idx)) ==
      cells.size.toLong)
  }
}
