package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants behind the round-10 operators that the hash gate alone
  * does not articulate (the Round9OpsSpec discipline). Planted-effect
  * sizes validated at all three fixture sfs before being pinned.
  */
class Round10OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("q287: crash + checkpoint restart is invisible — union == single run, zero dups, all closed") {
    val recovered = graft.ops.EventAnalytics.streamRestartRecovery(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    val single = graft.ops.EventAnalytics.streamJoinWindowed(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(recovered.nonEmpty)
    // recovery must be invisible: the two-run union equals the
    // uninterrupted AvailableNow run row for row
    assert(recovered.toSeq == single.toSeq)
    // zero duplicated windows across the crash/replay boundary
    assert(recovered.map(_._1).distinct.length == recovered.length)
    // the fence never bites on the fixtures — pinned, not assumed
    assert(recovered.forall(_._3))
  }

  test("q288: the 10% threshold flags exactly pg 0-1, and the fold touches only them") {
    val before = graft.ops.Clustering.sweepPartitionsRewritten.get()
    val dec = graft.ops.Clustering.foldinDecision(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getLong(5), r.getLong(6)))
    // the tenant half concentrates in pg 0-1 (~50%); scattered debt
    // stays ≤1% — the decision is a property of the cohort shape, not
    // the sf (validated at all three fixture sfs before pinning)
    assert(dec.filter(_._5).map(_._1).toSeq == Seq(0L, 1L))
    // the fold was partition-selective: exactly the 2 flagged
    // partition dirs rewritten, no table rewrite
    assert(graft.ops.Clustering.sweepPartitionsRewritten.get() - before == 2)
    // flagged partitions land at zero on BOTH ledgers; unflagged keep
    // their pre-fold debt exactly (tombstoned AND still in the files)
    dec.foreach { case (pg, _, nTomb, _, fold, postTomb, postPhys) =>
      if (fold) assert(postTomb == 0L && postPhys == 0L, s"pg=$pg")
      else assert(postTomb == nTomb && postPhys == nTomb, s"pg=$pg")
    }
    // serving through the post-policy view still equals
    // rebuild-from-survivors for the FULL cohort (the q291 gate);
    // here pin the complementary negative: no cohort member is served
    val (bin, dv, _) = graft.ops.Clustering.ensureFoldinPolicy(spark, sf)
    val served = graft.ops.Clustering.dvMergedCells(spark, bin, dv)
      .join(broadcast(graft.ops.Clustering.policyCohort(spark, sf)),
        col("vec_id") === col("k"))
    assert(served.count() == 0L)
  }

  test("q289: serve-while-grow — one build, serving output during growth, base files untouched") {
    val (_, mid) = graft.ops.Clustering.ensureServeWhileGrow(spark, sf)
    // streamed growth is pure appends: exactly the one base build —
    // read from the delta the RUNNER recorded (order-robust: another
    // suite or a registered query may have populated the memo first)
    assert(graft.ops.Clustering.swgBuildDelta.get((spark, sf, "ivf")) == 1)
    // the concurrent serve stream produced probe rows (content not
    // pinned — it reflects the nondeterministic growth prefix — but
    // no served answer ever exceeds top-k)
    val midRows = spark.read.parquet(mid)
    assert(midRows.count() > 0)
    assert(midRows.groupBy(col("serve_batch"), col("query_id"))
      .count().filter(col("count") > 3).count() == 0)
    // every base data file survived growth with size and mtime intact
    val base = graft.ops.Clustering.swgBaseFiles.get((spark, sf, "ivf"))
    assert(base.nonEmpty)
    base.foreach { case (p, (size, mtime)) =>
      val f = java.nio.file.Paths.get(p)
      assert(java.nio.file.Files.isRegularFile(f), s"base file vanished: $p")
      assert(java.nio.file.Files.size(f) == size, s"base file rewritten: $p")
      assert(java.nio.file.Files.getLastModifiedTime(f).toMillis == mtime,
        s"base file touched: $p")
    }
  }

  test("q290: HEAD version equals the q230 full view; versions grow monotonically") {
    val tt = graft.ops.Audit.mvTimeTravel(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getDouble(4)))
    // five committed states: the empty v0 plus one per arrival shard
    assert(tt.map(_._1).distinct.sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    // HEAD (v4 = all shards) must be exactly the q230 full recompute
    val head = tt.filter(_._1 == 4L).map(t => (t._2, t._3, t._4, t._5)).toSeq
    val full = graft.ops.Audit.mvRefresh(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(head == full)
    // a version never loses rows: per (month, status), n is
    // non-decreasing across versions
    tt.groupBy(t => (t._2, t._3)).foreach { case (_, rows) =>
      val ns = rows.sortBy(_._1).map(_._4)
      assert(ns.zip(ns.tail).forall { case (a, b) => a <= b })
    }
  }

  test("q292: small delta keeps, large delta re-clusters, and the executed rewrite restores pruning") {
    val dec = graft.ops.Formats.zorderPolicy(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(3), r.getBoolean(4)))
    val small = dec.find(_._1 == "1_small_delta").get
    val large = dec.find(_._1 == "2_large_delta").get
    assert(!small._3 && small._2 < 20, s"small delta must keep: $small")
    assert(large._3 && large._2 >= 20, s"large delta must fire: $large")
    val dir = graft.ops.Formats.ensureZorderPolicy(spark, sf)
    // the kept decision left the small delta in place, un-rewritten
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/delta1")))
    // the fired decision produced the z-rewrite, and it prunes: the
    // merged table's box scan touches at most half its files while
    // the degraded union cannot prune the ingest-ordered deltas
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/merged")))
    val (pLo, pHi, sLo, sHi) = {
      val b = graft.util.Tables.lineitem(spark, sf)
        .agg(min("l_partkey"), max("l_partkey"),
          min("l_suppkey"), max("l_suppkey")).collect()(0)
      val (pMin, pMax, sMin, sMax) =
        (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      (pMin + (pMax - pMin) / 20, pMin + 19 * (pMax - pMin) / 20,
        sMin + (sMax - sMin) / 10, sMin + (sMax - sMin) / 5)
    }
    def hits(dirs: String*): (Long, Long) = {
      val st = spark.read.parquet(dirs: _*)
        .groupBy(input_file_name().as("f"))
        .agg(min("l_partkey").as("pmn"), max("l_partkey").as("pmx"),
          min("l_suppkey").as("smn"), max("l_suppkey").as("smx"))
        .cache()
      val r = (st.filter(col("pmx") >= pLo && col("pmn") <= pHi &&
        col("smx") >= sLo && col("smn") <= sHi).count(), st.count())
      st.unpersist(); r
    }
    val (mergedHit, mergedTotal) = hits(s"$dir/merged")
    // ≤10/16 bound, same rationale as Round9OpsSpec q285 (7/16 at
    // sf0.001, the same on every rebuild)
    assert(mergedTotal == 16 && mergedHit <= 10,
      s"re-clustered table must prune at least 6 of its files: $mergedHit/$mergedTotal")
    val (degradedHit, _) = hits(s"$dir/base", s"$dir/delta1", s"$dir/delta2")
    assert(mergedHit < degradedHit)
  }

  test("q295: the measured file-count threshold flags pg 3-7; compaction touches only them") {
    val dec = graft.ops.Clustering.compactionPolicy(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3), r.getLong(4)))
    assert(dec.map(_._1).toSeq == (0L to 7L))
    dec.foreach { case (pg, before, compact, after) =>
      assert(before == pg + 1, s"planted gradient must be measured: pg=$pg")
      assert(compact == (before >= 4L))
      assert(after == (if (compact) 1L else before),
        s"pg=$pg: flagged must land at 1 file, unflagged keep $before")
    }
  }

  test("q294: vacuum removes exactly the pre-retention versions; survivors read intact") {
    val rows = graft.ops.Audit.mvRetention(spark, sf).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == (0L to 4L))
    assert(rows.filter(_._2).map(_._1).toSeq == Seq(3L, 4L))
    // vacuumed versions are zeroed; HEAD keeps the full order count
    assert(rows.filter(!_._2).forall(_._3 == 0L))
    val total = graft.util.Tables.orders(spark, sf).count()
    assert(rows.find(_._1 == 4L).get._3 == total)
  }

  test("q298/q299: code-table serve-while-grow — one build each, serving during growth, base files untouched") {
    Seq(("pq", () => graft.ops.Clustering.ensureServeWhileGrowPq(spark, sf)),
      ("bin", () => graft.ops.Clustering.ensureServeWhileGrowBin(spark, sf)))
      .foreach { case (family, ensure) =>
        val (_, mid) = ensure()
        // the runner-recorded delta (see q289 note on order-robustness)
        assert(graft.ops.Clustering.swgBuildDelta.get((spark, sf, family)) == 1,
          s"$family: streamed growth must not rebuild")
        assert(spark.read.parquet(mid).count() > 0,
          s"$family: the concurrent serve stream must produce output")
        val base = graft.ops.Clustering.swgBaseFiles.get((spark, sf, family))
        assert(base.nonEmpty)
        base.foreach { case (p, (size, mtime)) =>
          val f = java.nio.file.Paths.get(p)
          assert(java.nio.file.Files.isRegularFile(f) &&
            java.nio.file.Files.size(f) == size &&
            java.nio.file.Files.getLastModifiedTime(f).toMillis == mtime,
            s"$family base file touched: $p")
        }
      }
  }

  test("q297: applying the change feed from v0 reconstructs HEAD (consumer catch-up)") {
    val cdf = graft.ops.Audit.mvChangeFeed(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    val applied = cdf.groupBy(t => (t._2, t._3))
      .map { case (k, rows) => (k, rows.map(_._4).sum) }
    val head = graft.ops.Audit.mvRefresh(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(applied.toMap == head,
      "sum of per-version deltas must equal the HEAD view")
  }
}
