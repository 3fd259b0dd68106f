package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataTypes

import graft.util.Memo
import graft.util.Tables._

/** Source/sink format breadth: the engine's row data round-trips
  * through every built-in columnar/text format (CSV with header, JSON
  * lines, ORC) and comes back value-identical — doubles survive via
  * shortest-representation printing, so even the text formats are
  * bit-exact. The oracle computes the same aggregate once per format
  * tag straight from the parquet table, which hash-pins the whole
  * write→read→aggregate path of all three formats at once.
  */
object Formats {

  private val Dec = DataTypes.createDecimalType(28, 6)

  /** q281: Z-ORDER data layout — multi-dimensional clustering for
    * min/max file skipping, the lakehouse layout verb (OPTIMIZE
    * ZORDER BY) behind 2-D selective scans. Both keys are ranked into
    * 10-bit buckets (bounds read once — a 1-row driver scalar, the
    * q151 bounded-control-data discipline) and bit-interleaved into a
    * Morton code; exact z-quantile tiles + `sortWithinPartitions(z)`
    * write files whose (partkey, suppkey) min/max boxes tile BOTH
    * dimensions, so a wide-partkey × narrow-suppkey box prunes most
    * files — a linear partkey sort cannot prune on suppkey at all
    * (Round9OpsSpec measures the file-hit counts on both layouts and
    * pins zorder < linear). The GATE reads the z-ordered layout back
    * and runs the box rollup: layout re-organization must be
    * lossless, with the box bounds derived from the same integer
    * min/max arithmetic in both engines.
    *
    * Scale shape: one quantile aggregate and one shuffle on the 20-bit
    * z key (the exact cost of any clustered rewrite), paid once per
    * maintenance cycle; after it, every 2-D selective query prunes at
    * file AND row-group granularity instead of scanning the full
    * table — at 100 TB this is the difference between touching
    * ~z-tiles-in-box and touching everything.
    */
  private val zorderMemo = new Memo[
    (SparkSession, String), (String, String, (Long, Long, Long, Long))]

  /** Morton-sort `df` on the 10-bit bucket ranks of (l_partkey,
    * l_suppkey) under the given key bounds, into `parts` files that
    * tile the z curve at its exact quantiles. The layout is a function
    * of the data alone: `repartitionByRange` would sample its bounds
    * with a seed taken from the RDD id, so the files' key boxes (and
    * the measured pruning) would vary with how many RDDs the session
    * made before. The quantiles come from one exact `percentile`
    * aggregate, whose value→count map is bounded by the 2^20 z values
    * at any row count; z tile i goes to partition i.
    */
  private def zSorted(df: DataFrame, pMin: Long, pMax: Long,
      sMin: Long, sMax: Long, parts: Int): DataFrame = {
    // exact integer division (SQL `div`), not Column `/` (double):
    // FP rounding on wide key ranges can round a near-1024 quotient UP
    // to 1024, overflowing the 10-bit interleave (bit 10 unread) and
    // aliasing the top rank onto 0 — silent locality loss
    val rp = expr(s"((l_partkey - $pMin) * 1024) div ${pMax - pMin + 1}")
    val rs = expr(s"((l_suppkey - $sMin) * 1024) div ${sMax - sMin + 1}")
    val zBits = (0 until 10).map(i =>
      s"(shiftleft(shiftright(rp, $i) & 1, ${2 * i + 1}) | " +
        s"shiftleft(shiftright(rs, $i) & 1, ${2 * i}))")
      .mkString(" | ")
    val zd = df.withColumn("rp", rp).withColumn("rs", rs)
      .withColumn("z", expr(zBits)).drop("rp", "rs")
    val cuts = (1 until parts).map(i => s"${i.toDouble / parts}").mkString(", ")
    val bounds = zd.agg(expr(s"percentile(z, array($cuts))")).collect()(0)
      .getSeq[Double](0).map(math.floor)
    val tiled = zd.withColumn("tile",
      bounds.foldLeft(lit(0))((n, b) => n + (col("z") > b).cast("int")))
    // HashPartitioner sends a small non-negative Int key k to partition k
    val byTile = tiled.rdd.keyBy(_.getAs[Int]("tile"))
      .partitionBy(new org.apache.spark.HashPartitioner(parts)).values
    df.sparkSession.createDataFrame(byTile, tiled.schema)
      .sortWithinPartitions(col("z")).drop("tile", "z")
  }

  private def zKeyBounds(s: SparkSession, d: String)
      : (Long, Long, Long, Long) = {
    val b = lineitem(s, d).agg(min("l_partkey"), max("l_partkey"),
      min("l_suppkey"), max("l_suppkey")).collect()(0)
    (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
  }

  private def zBox(bounds: (Long, Long, Long, Long))
      : (Long, Long, Long, Long) = {
    val (pMin, pMax, sMin, sMax) = bounds
    (pMin + (pMax - pMin) / 20, pMin + 19 * (pMax - pMin) / 20,
      sMin + (sMax - sMin) / 10, sMin + (sMax - sMin) / 5)
  }

  /** Write both layouts once per (session, sf dir); returns the two
    * directories plus the (pLo, pHi, sLo, sHi) box bounds derived
    * from the key min/max with pure integer arithmetic (mirrored by
    * the oracle).
    */
  private[graft] def ensureZorderLayouts(s: SparkSession, d: String)
      : (String, String, (Long, Long, Long, Long)) =
    zorderMemo((s, d)) {
      val li = lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"),
          col("l_returnflag"))
      val bounds @ (pMin, pMax, sMin, sMax) = zKeyBounds(s, d)
      val dir = graft.util.TmpDirs.scratchFor("zorder", d)
      zSorted(li, pMin, pMax, sMin, sMax, 16)
        .write.mode("overwrite").parquet(s"$dir/zorder")
      // the linear straw man the spec compares pruning against
      li.repartitionByRange(16, col("l_partkey"))
        .sortWithinPartitions(col("l_partkey"))
        .write.mode("overwrite").parquet(s"$dir/linear")
      (s"$dir/zorder", s"$dir/linear", zBox(bounds))
    }

  def zorderLayout(s: SparkSession, d: String): DataFrame = {
    val (zdir, _, (pLo, pHi, sLo, sHi)) = ensureZorderLayouts(s, d)
    s.read.parquet(zdir)
      .filter(col("l_partkey").between(pLo, pHi) &&
        col("l_suppkey").between(sLo, sHi))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity").cast(Dec)), 2).cast("double").as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  // ---- q285: z-order layout MAINTENANCE -----------------------------
  //
  // q281 proves the clustered rewrite; production tables then take
  // APPENDS that arrive in ingest order, not z order, and the layout
  // degrades until the next maintenance pass re-clusters — the exact
  // lifecycle the index family proves via grow → compact (q272). The
  // three states on disk: base (z-ordered, even orderkeys) + delta
  // (odd orderkeys, orderkey-clustered = zero pruning power on the
  // box dims) → merged (one z-ordered rewrite of base ∪ delta). The
  // gate runs the 2-D box rollup in BOTH degraded and re-clustered
  // states — the layout states must be query-invisible — and the
  // spec measures what degrades and what is restored: delta files
  // are (nearly) all hit, the re-clustered table prunes like q281.

  private val zmaintMemo = new Memo[
    (SparkSession, String), (String, String, String, (Long, Long, Long, Long))]

  private[graft] def ensureZorderMaintenance(s: SparkSession, d: String)
      : (String, String, String, (Long, Long, Long, Long)) =
    zmaintMemo((s, d)) {
      val li = lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_returnflag"))
      val bounds @ (pMin, pMax, sMin, sMax) = zKeyBounds(s, d)
      val dir = graft.util.TmpDirs.scratchFor("zorder-maint", d)
      zSorted(li.filter(pmod(col("l_orderkey"), lit(2)) === 0)
          .drop("l_orderkey"), pMin, pMax, sMin, sMax, 16)
        .write.mode("overwrite").parquet(s"$dir/base")
      // the append: ingest-ordered (orderkey-clustered) — carries NO
      // locality on the box dimensions, deterministically
      li.filter(pmod(col("l_orderkey"), lit(2)) === 1)
        .repartitionByRange(4, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey"))
        .drop("l_orderkey")
        .write.mode("overwrite").parquet(s"$dir/delta")
      // maintenance: one z-ordered rewrite of base ∪ delta
      zSorted(s.read.parquet(s"$dir/base", s"$dir/delta"),
          pMin, pMax, sMin, sMax, 16)
        .write.mode("overwrite").parquet(s"$dir/merged")
      (s"$dir/base", s"$dir/delta", s"$dir/merged", zBox(bounds))
    }

  /** q285: the 2-D box rollup in both layout-lifecycle states —
    * degraded (base + ingest-ordered delta) and re-clustered. Both
    * stages must produce the direct computation's rows: layout
    * maintenance is query-invisible.
    */
  def zorderMaintenance(s: SparkSession, d: String): DataFrame = {
    val (bdir, ddir, mdir, (pLo, pHi, sLo, sHi)) =
      ensureZorderMaintenance(s, d)
    def roll(df: DataFrame, stage: String) = df
      .filter(col("l_partkey").between(pLo, pHi) &&
        col("l_suppkey").between(sLo, sHi))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity").cast(Dec)), 2).cast("double").as("sum_qty"))
      .withColumn("stage", lit(stage))
    roll(s.read.parquet(bdir, ddir), "1_with_delta")
      .unionAll(roll(s.read.parquet(mdir), "2_reclustered"))
      .select(col("stage"), col("l_returnflag"), col("n"), col("sum_qty"))
      .orderBy(col("stage"), col("l_returnflag"))
  }

  // ---- q292: z-order RE-CLUSTER trigger policy ----------------------
  //
  // q285 measures layout degradation and repairs it when the test
  // says so; nothing DECIDES to re-cluster — the q288 fold-in
  // discipline applied to layout debt. The policy metric is the
  // un-clustered fraction: delta rows × 100 div table rows, exact
  // integer percent; re-cluster at ≥ 20%. Two maintenance cycles are
  // exercised: a small ingest delta (orderkey ≡ 1 mod 10, ~16% of the
  // stage-1 table — below threshold, decision KEEP, no rewrite
  // executed) and then the remaining odd keys (~50% of the full
  // table — decision RECLUSTER, one z-rewrite executed). Both
  // fractions sit far from the threshold at every fixture sf, so the
  // decisions are properties of the cohort shape, not the sf.

  private val zpolMemo = new Memo[(SparkSession, String), String]

  /** Build base + deltas, measure both cycles, EXECUTE the decisions
    * (stage 1: keep; stage 2: one z-rewrite of everything). Returns
    * the policy dir holding base/, delta1/, delta2/, decisions/ and —
    * only because stage 2 fired — merged/.
    */
  private[graft] def ensureZorderPolicy(s: SparkSession, d: String): String =
    zpolMemo((s, d)) {
      val li = lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_returnflag"))
      val (pMin, pMax, sMin, sMax) = zKeyBounds(s, d)
      val dir = graft.util.TmpDirs.scratchFor("zorder-policy", d)
      zSorted(li.filter(pmod(col("l_orderkey"), lit(2)) === 0)
          .drop("l_orderkey"), pMin, pMax, sMin, sMax, 16)
        .write.mode("overwrite").parquet(s"$dir/base")
      def ingestOrdered(df: DataFrame, parts: Int): DataFrame =
        df.repartitionByRange(parts, col("l_orderkey"))
          .sortWithinPartitions(col("l_orderkey")).drop("l_orderkey")
      ingestOrdered(li.filter(pmod(col("l_orderkey"), lit(10)) === 1), 2)
        .write.mode("overwrite").parquet(s"$dir/delta1")
      ingestOrdered(li.filter(pmod(col("l_orderkey"), lit(2)) === 1 &&
          pmod(col("l_orderkey"), lit(10)) =!= 1), 4)
        .write.mode("overwrite").parquet(s"$dir/delta2")
      // measure both maintenance cycles (1-row bounded aggregate)
      val c = li.agg(
        sum(when(pmod(col("l_orderkey"), lit(2)) === 0, 1L).otherwise(0L)).as("ne"),
        sum(when(pmod(col("l_orderkey"), lit(10)) === 1, 1L).otherwise(0L)).as("nd1"),
        sum(when(pmod(col("l_orderkey"), lit(2)) === 1, 1L).otherwise(0L)).as("nodd"),
        count(lit(1)).as("nall")).collect()(0)
      val (ne, nd1, nodd, nall) =
        (c.getLong(0), c.getLong(1), c.getLong(2), c.getLong(3))
      def cycle(stage: String, total: Long, delta: Long) = {
        val pct = delta * 100L / total
        (stage, total, delta, pct, pct >= 20L)
      }
      val dec = Seq(cycle("1_small_delta", ne + nd1, nd1),
        cycle("2_large_delta", nall, nodd))
      // EXECUTE the decisions: stage 1 keeps (its files must survive
      // untouched — spec-pinned); stage 2 re-clusters everything
      dec.filter(_._5).foreach { _ =>
        zSorted(s.read.parquet(s"$dir/base", s"$dir/delta1", s"$dir/delta2"),
            pMin, pMax, sMin, sMax, 16)
          .write.mode("overwrite").parquet(s"$dir/merged")
      }
      import s.implicits._
      dec.toDF("stage", "n_total", "n_delta", "delta_pct", "recluster")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/decisions")
      dir
    }

  /** q292: the two re-cluster decisions with their measurements —
    * pure integer arithmetic the oracle literalizes; the executed
    * outcomes (kept files untouched, restored pruning) are
    * spec-pinned, the decision itself is hash-gated.
    */
  def zorderPolicy(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${ensureZorderPolicy(s, d)}/decisions")
      .orderBy(col("stage"))

  /** Write a deterministic lineitem slice to CSV/JSON/ORC, read each
    * back (explicit schema for the text formats — inference is a scan
    * you don't pay twice at scale), union with a format tag, aggregate.
    */
  def sinkRoundTrip(s: SparkSession, d: String): DataFrame = {
    // coalesce: the slice is ~5% of lineitem — 4 output files per
    // format instead of 32 near-empty ones (per-file open/close and
    // read-side listing dominate at this size; at real scale the
    // coalesce factor follows target file size, not partition count)
    val src = lineitem(s, d)
      .filter(col("l_orderkey") % 20 === 0)
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      .coalesce(4)
    val dir = graft.util.TmpDirs.scratch("sink-rt")
    val readBack = Seq("csv", "json", "orc").map { f =>
      val p = s"$dir/$f"
      f match {
        case "csv"  => src.write.mode("overwrite").option("header", true).csv(p)
        case "json" => src.write.mode("overwrite").json(p)
        case "orc"  => src.write.mode("overwrite").orc(p)
      }
      val r = f match {
        case "csv"  => s.read.schema(src.schema).option("header", true).csv(p)
        case "json" => s.read.schema(src.schema).json(p)
        case "orc"  => s.read.orc(p)
      }
      r.select(lit(f).as("fmt"), col("l_orderkey"), col("l_quantity"),
        col("l_returnflag"))
    }
    readBack.reduce(_ union _)
      .groupBy(col("fmt"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("l_returnflag")).as("n_flags"),
        round(sum(col("l_quantity").cast(Dec)), 2).cast("double").as("sum_qty"),
        sum(col("l_orderkey")).as("sum_key"))
      .orderBy(col("fmt"))
  }

  /** q183: schema-evolution read — two parquet generations of the same
    * table (generation 2 adds a column), read back in one pass with
    * `mergeSchema`; generation-1 rows surface the new column as NULL
    * and are bucketed 'UNKNOWN'. This is the mechanics of every
    * long-lived 100 TB lake table: columns arrive over time and the
    * scan must reconcile footers without rewriting history.
    *
    * Scale note: mergeSchema footer reconciliation costs one metadata
    * pass over file footers — at real scale you pin the merged schema
    * in a catalog instead of re-inferring per query, which is why the
    * read here lists exactly the two generation dirs.
    */
  def schemaEvolution(s: SparkSession, d: String): DataFrame = {
    val dir = graft.util.TmpDirs.scratch("schema-evo")
    val o = orders(s, d)
    o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
      .coalesce(4).write.mode("overwrite").parquet(s"$dir/gen1")
    o.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .coalesce(4).write.mode("overwrite").parquet(s"$dir/gen2")
    s.read.option("mergeSchema", "true")
      .parquet(s"$dir/gen1", s"$dir/gen2")
      .groupBy(coalesce(col("o_orderstatus"), lit("UNKNOWN")).as("status"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice").cast(Dec)), 2).cast("double")
          .as("sum_price"))
      .orderBy(col("status"))
  }

  /** q247: small-file compaction — the lake-maintenance loop every
    * streaming ingest accumulates toward: the event table lands as 64
    * fragment files (what per-trigger micro-batch writes produce),
    * compaction rewrites them into 4 right-sized files, and the
    * report proves (a) the file count collapsed and (b) NOT ONE ROW
    * moved semantically (row count and an exact decimal value sum per
    * stage). File counts are structural facts read back from the
    * filesystem listing, not assumptions.
    *
    * Scale shape: compaction is one repartition-by-nothing rewrite —
    * shuffle bytes = table bytes, the price paid ONCE to stop paying
    * per-query open/seek costs forever; at warehouse scale it runs
    * per partition with target-size-driven file counts (the q54
    * coalesce note, promoted to an operator).
    */
  def compaction(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = graft.util.TmpDirs.scratch("compaction")
    val src = events(s, d).select(col("event_id"), col("event_type"),
      col("value").cast(Dec).as("v"))
    src.repartition(64).write.mode("overwrite").parquet(s"$dir/fragmented")
    s.read.parquet(s"$dir/fragmented")
      .repartition(4).write.mode("overwrite").parquet(s"$dir/compacted")
    def stageStats(name: String, path: String): DataFrame = {
      val files = new java.io.File(path).listFiles()
        .count(f => f.getName.endsWith(".parquet")).toLong
      s.read.parquet(path)
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("v")), 2).cast("double").as("sum_value"))
        .select(lit(name).as("stage"), lit(files).as("n_files"),
          col("n_rows"), col("sum_value"))
    }
    stageStats("1_fragmented", s"$dir/fragmented")
      .unionAll(stageStats("2_compacted", s"$dir/compacted"))
      .orderBy(col("stage"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q183_schema_evolution" -> schemaEvolution _,
    "q54_sink_roundtrip" -> sinkRoundTrip _,
    "q247_compaction" -> compaction _,
    "q281_zorder_layout" -> zorderLayout _,
    "q285_zorder_maintenance" -> zorderMaintenance _,
    "q292_zorder_policy" -> zorderPolicy _,
  )

  val oracleSql: Map[String, String] = Map(
    // q292: the re-cluster decisions are exact integer arithmetic
    // over deterministic cohorts — below threshold on the small
    // delta, above on the large one, at every fixture sf
    "q292_zorder_policy" ->
      """WITH c AS (
        |  SELECT
        |    CAST(sum(CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ne,
        |    CAST(sum(CASE WHEN l_orderkey % 10 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nd1,
        |    CAST(sum(CASE WHEN l_orderkey % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nodd,
        |    CAST(count(*) AS BIGINT) AS nall
        |  FROM lineitem)
        |SELECT '1_small_delta' AS stage, ne + nd1 AS n_total,
        |  nd1 AS n_delta, (nd1 * 100) // (ne + nd1) AS delta_pct,
        |  (nd1 * 100) // (ne + nd1) >= 20 AS recluster FROM c
        |UNION ALL
        |SELECT '2_large_delta', nall, nodd, (nodd * 100) // nall,
        |  (nodd * 100) // nall >= 20 FROM c
        |ORDER BY stage""".stripMargin,
    // both layout-lifecycle states must be query-invisible: each
    // stage's box rollup equals the direct computation off lineitem
    "q285_zorder_maintenance" ->
      """WITH b AS (
        |  SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
        |    min(l_suppkey) AS smin, max(l_suppkey) AS smax
        |  FROM lineitem),
        |agg AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    CAST(round(sum(CAST(l_quantity AS DECIMAL(28,6))), 2) AS DOUBLE)
        |      AS sum_qty
        |  FROM lineitem, b
        |  WHERE l_partkey BETWEEN pmin + (pmax - pmin) // 20
        |                      AND pmin + 19 * (pmax - pmin) // 20
        |    AND l_suppkey BETWEEN smin + (smax - smin) // 10
        |                      AND smin + (smax - smin) // 5
        |  GROUP BY l_returnflag)
        |SELECT s.stage, a.l_returnflag, a.n, a.sum_qty
        |FROM agg a, (VALUES ('1_with_delta'), ('2_reclustered')) s(stage)
        |ORDER BY s.stage, a.l_returnflag""".stripMargin,
    // the z-ordered layout must be lossless: the box rollup from the
    // rewritten files equals the same rollup straight off lineitem,
    // box bounds from the same integer min/max arithmetic
    "q281_zorder_layout" ->
      """WITH b AS (
        |  SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
        |    min(l_suppkey) AS smin, max(l_suppkey) AS smax
        |  FROM lineitem)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(28,6))), 2) AS DOUBLE)
        |    AS sum_qty
        |FROM lineitem, b
        |WHERE l_partkey BETWEEN pmin + (pmax - pmin) // 20
        |                    AND pmin + 19 * (pmax - pmin) // 20
        |  AND l_suppkey BETWEEN smin + (smax - smin) // 10
        |                    AND smin + (smax - smin) // 5
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q247_compaction" ->
      """WITH agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(round(sum(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE)
        |      AS sum_value
        |  FROM events)
        |SELECT s.stage, s.n_files, agg.n_rows, agg.sum_value
        |FROM agg, (VALUES ('1_fragmented', CAST(64 AS BIGINT)),
        |                  ('2_compacted', CAST(4 AS BIGINT))) s(stage, n_files)
        |ORDER BY s.stage""".stripMargin,
    "q183_schema_evolution" ->
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'UNKNOWN'
        |            ELSE o_orderstatus END AS status,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,6))), 2) AS DOUBLE)
        |    AS sum_price
        |FROM orders
        |GROUP BY 1 ORDER BY status""".stripMargin,
    "q54_sink_roundtrip" ->
      """WITH src AS (
        |  SELECT l_orderkey, l_quantity, l_returnflag
        |  FROM lineitem WHERE l_orderkey % 20 = 0),
        |agg AS (
        |  SELECT count(*) AS n,
        |    count(DISTINCT l_returnflag) AS n_flags,
        |    CAST(round(sum(CAST(l_quantity AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_qty,
        |    CAST(sum(l_orderkey) AS BIGINT) AS sum_key
        |  FROM src)
        |SELECT fmt, n, n_flags, sum_qty, sum_key
        |FROM agg, UNNEST(['csv', 'json', 'orc']) AS u(fmt)
        |ORDER BY fmt""".stripMargin,
  )
}
