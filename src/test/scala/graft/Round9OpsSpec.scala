package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants behind the round-9 operators that the hash gate alone
  * does not articulate: planted-effect separations and control-flow
  * fixed points. Effect sizes were validated at ALL three fixture sfs
  * before being pinned here (per the repo determinism conventions).
  */
class Round9OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("q277: frozen codebook distorts the drifted half >= 100x; base half stays comparable") {
    val rows = graft.ops.Clustering.pqStaleness(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.length == 2)
    val base = rows.find(_._1 == 0L).get
    val arrived = rows.find(_._1 == 1L).get
    // the drift is invisible on the base half (refreshed spends half
    // its budget elsewhere, so frozen may even be better there)
    assert(base._2 < 2 * base._3 && base._3 < 2 * base._2,
      s"base-half distortion must be comparable: $base")
    // ... and catastrophic on the arrived half (measured ~6500x at
    // every fixture sf; 100x is the safe floor)
    assert(arrived._2 >= 100 * arrived._3,
      s"arrived-half frozen distortion must dominate: $arrived")
    assert(rows.forall(_._4 == 1L), "rebuild trigger must fire")
  }

  test("q278: frozen thresholds saturate the drifted bits; refreshed rebalance to ~0") {
    val rows = graft.ops.Clustering.binaryStaleness(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4),
        r.getLong(5), r.getLong(6)))
    assert(rows.length == 64)
    val n = rows.map(_._2).sum
    val imbFrozen = rows.map(_._3).sum
    val imbRefreshed = rows.map(_._4).sum
    assert(imbFrozen * 4 >= n,
      s"frozen thresholds must be globally imbalanced: $imbFrozen of $n")
    assert(imbRefreshed * 50 <= n,
      s"refreshed thresholds must rebalance: $imbRefreshed of $n")
    assert(rows.forall(_._5 == 1L), "rebuild trigger must fire")
  }

  test("q281: the z-order layout prunes the 2-D box to FEWER files than the linear sort") {
    val (zdir, ldir, (pLo, pHi, sLo, sHi)) =
      graft.ops.Formats.ensureZorderLayouts(spark, sf)
    def stats(dir: String): (Long, Long) = {
      val st = spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min("l_partkey").as("pmn"), max("l_partkey").as("pmx"),
          min("l_suppkey").as("smn"), max("l_suppkey").as("smx"))
        .cache()
      val total = st.count()
      // a file survives min/max skipping iff its [min,max] box
      // intersects the query box on BOTH dimensions — exactly the
      // pruning predicate parquet file/row-group stats drive
      val hit = st.filter(col("pmx") >= pLo && col("pmn") <= pHi &&
        col("smx") >= sLo && col("smn") <= sHi).count()
      st.unpersist()
      (hit, total)
    }
    val (zHit, zTotal) = stats(zdir)
    val (lHit, lTotal) = stats(ldir)
    assert(zTotal == 16 && lTotal == 16)
    // the linear partkey sort cannot prune on suppkey: the wide
    // partkey box hits nearly every file; z-order tiles both dims
    assert(zHit < lHit,
      s"zorder must prune harder: zorder $zHit/16 vs linear $lHit/16")
    assert(zHit * 2 <= lHit,
      s"expected at least 2x fewer files hit: $zHit vs $lHit")
    // and the layout is lossless: identical box rollups off both
    def roll(dir: String) = spark.read.parquet(dir)
      .filter(col("l_partkey").between(pLo, pHi) &&
        col("l_suppkey").between(sLo, sHi))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sq"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(roll(zdir) == roll(ldir) && roll(zdir).nonEmpty)
  }

  test("q285: an ingest-ordered delta degrades pruning; the re-cluster restores it") {
    val (bdir, ddir, mdir, (pLo, pHi, sLo, sHi)) =
      graft.ops.Formats.ensureZorderMaintenance(spark, sf)
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
    val (deltaHit, deltaTotal) = hits(ddir)
    assert(deltaTotal == 4 && deltaHit >= 3,
      s"ingest-ordered delta files must be (nearly) unprunable: $deltaHit/$deltaTotal")
    val (degradedHit, degradedTotal) = hits(bdir, ddir)
    val (mergedHit, mergedTotal) = hits(mdir)
    assert(mergedTotal == 16)
    assert(mergedHit < degradedHit,
      s"re-clustering must restore pruning: merged $mergedHit/$mergedTotal " +
        s"vs degraded $degradedHit/$degradedTotal")
    // and the merged table prunes like q281's full-table z-order
    // (7/16 at sf0.001, the same on every rebuild: Formats.zSorted's
    // layout is a function of the data alone). The ≤10/16 bound pins
    // the pruning CLAIM (the box scan skips a large fraction of files
    // while the ingest-ordered layout cannot skip any), not one
    // fixture's count.
    assert(mergedHit <= 10,
      s"re-clustered table must prune at least 6 of its files: $mergedHit/16")
  }

  test("q276: the WHILE fixed point is the minimal grid threshold; the handler fired") {
    val rows = graft.ops.SqlSuite.sqlScripting(spark, sf).collect()
    assert(rows.nonEmpty)
    val thr = rows.head.getAs[Long]("thr_used")
    assert(rows.forall(_.getAs[Long]("err_flag") == 1L),
      "the EXIT handler must have fired and set err_flag")
    assert((thr - 10) % 5 == 0, s"threshold $thr must sit on the 10+5k grid")
    val li = graft.util.Tables.lineitem(spark, sf)
      .select(col("l_quantity").cast("double").as("q")).cache()
    val total = li.count()
    def cnt(t: Long) = li.filter(col("q") >= t).count()
    assert(cnt(thr) <= total / 4, "the loop exit condition must hold")
    assert(thr == 10 || cnt(thr - 5) > total / 4,
      "the threshold must be MINIMAL on the grid (one step back violates)")
    li.unpersist()
  }
}
