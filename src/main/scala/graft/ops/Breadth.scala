package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataTypes

import graft.util.Tables._

/** Round-3 breadth: map-typed columns, array-of-struct reshaping,
  * FILTER-style conditional aggregation, stratified deterministic
  * sampling, a TPC-H Q8-style market-share join tree, DataSketches
  * approximate distinct (HLL + Theta), VARIANT semi-structured
  * access, and an XML construct/parse round-trip.
  *
  * Scale shape: everything here is groupBy/join-shaped (hash
  * shuffles on grouping/join keys, map-side partial aggregation);
  * the market-share tree joins facts once and broadcasts every
  * dimension; the sketch aggregates are algebraic (mergeable
  * buffers — the shuffle carries one sketch per group × partition,
  * the pattern that survives any corpus size).
  */
object Breadth {

  private val Dec = DataTypes.createDecimalType(28, 6)

  /** Map-function suite over orders: build a status→count map per
    * priority (map_from_entries over a sorted entry list), size it,
    * map_filter to even counts, transform_values to double them,
    * explode back to rows — the full construct/transform/consume
    * cycle of a map-typed column, flattened so the oracle can check
    * it relationally.
    */
  def mapFuncs(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("o_orderpriority"))
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("o_orderstatus"), col("n"))))).as("m"))
      .select(col("o_orderpriority"),
        size(col("m")).cast("long").as("n_statuses"),
        explode(transform_values(
          map_filter(col("m"), (_, v) => v % 2 === 0), (_, v) => v * 2)))
      .withColumnRenamed("key", "o_orderstatus")
      .withColumnRenamed("value", "n2")
      .orderBy(col("o_orderpriority"), col("o_orderstatus"))

  /** Array-of-struct reshaping: top-3 orders per market segment kept
    * as a sorted struct array (collect_list → array_sort → reverse →
    * slice), then posexplode'd back to ranked rows. The window-prune
    * alternative is q66; this exercises the array-of-struct algebra
    * itself (sort order = struct field order, price desc then key
    * desc via reverse).
    */
  def structTopN(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(slice(reverse(array_sort(collect_list(
        struct(col("o_totalprice"), col("o_orderkey"))))), 1, 3).as("top3"))
      .select(col("c_mktsegment"), posexplode(col("top3")))
      .select(col("c_mktsegment"),
        (col("pos") + 1).cast("long").as("rank"),
        col("col.o_orderkey").as("o_orderkey"),
        col("col.o_totalprice").as("price"))
      .orderBy(col("c_mktsegment"), col("rank"))

  /** Conditional aggregation (SQL FILTER clause family): count_if,
    * filtered sums in exact decimal, bool_or/bool_and — one pass,
    * map-side combinable.
    */
  def condAgg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("count_if(l_quantity > 25)").as("n_big"),
        round(sum(when(col("l_discount") > 0.05,
          col("l_quantity").cast(Dec))), 2).cast("double").as("disc_qty"),
        bool_or(col("l_tax") > 0.07).as("any_high_tax"),
        bool_and(col("l_quantity") >= 1).as("all_positive"))
      .orderBy(col("l_returnflag"))

  /** Stratified deterministic sampling: per-stratum keep rates
    * (A 10%, N 20%, R 50%) over an md5-hash bucket of the stable row
    * key — `sampleBy` semantics without rand(): re-runs, late data
    * and the DuckDB oracle all agree on membership (proven by the
    * exact decimal sum, not just counts).
    */
  def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    val bucket = pmod(conv(substring(md5(concat_ws("|",
      col("l_orderkey"), col("l_linenumber"))), 1, 15), 16, 10).cast("long"),
      lit(100))
    val rate = when(col("l_returnflag") === "A", 10)
      .when(col("l_returnflag") === "N", 20).otherwise(50)
    lineitem(s, d)
      .filter(bucket < rate)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity").cast(Dec)), 2).cast("double").as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** Weighted sampling without replacement (Efraimidis-Spirakis A-ES):
    * each order draws an exponential rank key -ln(u)/w with u a
    * 52-bit md5-hash uniform and w = o_totalprice; the 10 SMALLEST
    * keys are the sample, so selection probability tracks the weight.
    * Deterministic (hash-seeded, no rand()) and reproducible across
    * engines; a top-k aggregation, never a sort of the corpus.
    */
  def weightedSample(s: SparkSession, d: String): DataFrame = {
    val h = conv(substring(md5(concat(lit("ws|"), col("o_orderkey"))), 1, 13), 16, 10)
      .cast("long")
    val u = (h + 1).cast("double") / lit(4503599627370496.0) // 2^52, u ∈ (0,1]
    orders(s, d)
      .withColumn("rk", -log(u) / col("o_totalprice"))
      .orderBy(col("rk"), col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("weight"),
        round(col("rk") * 1e6, 6).as("rank_key_ppm"))
  }

  /** Group-wise z-score normalization with outlier detection: per
    * event_type mean/σ from EXACT decimal moments (q93's discipline),
    * broadcast back, |z| > 3 flagged. The only irrational step is
    * sqrt — IEEE-exact on both engines, unlike libm pow/exp — so the
    * z-scores are bit-identical. Two keyed aggregations, no window.
    */
  def zscoreOutliers(s: SparkSession, d: String): DataFrame = {
    val stats = events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(Dec)).as("sv"),
        // (18,6)² stays exact (scale 12, ≤ 37 digits) on BOTH engines;
        // the wider Dec would force Spark to round the product to 6 dp
        // and DuckDB to reject the 56-digit width outright
        sum(col("value").cast(DataTypes.createDecimalType(18, 6))
          * col("value").cast(DataTypes.createDecimalType(18, 6))).as("svv"))
      .select(col("event_type"), col("n"),
        (col("sv").cast("double") / col("n")).as("mean"),
        sqrt(col("svv").cast("double") / col("n")
          - (col("sv").cast("double") / col("n"))
            * (col("sv").cast("double") / col("n"))).as("sd"))
    events(s, d)
      .join(broadcast(stats), Seq("event_type"))
      .withColumn("z", (col("value") - col("mean")) / col("sd"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(abs(col("z")) > 3, 1L).otherwise(0L)).as("n_outliers"),
        round(max(col("z")), 4).as("max_z"),
        round(min(col("z")), 4).as("min_z"))
      .orderBy(col("event_type"))
  }

  /** Z-order (Morton) clustering key over (ship-date, price) — the
    * multi-dimensional layout primitive: writing sorted by z keeps
    * rows close in BOTH dimensions inside each row group, so min/max
    * row-group stats prune box predicates on either column (the
    * Delta/Iceberg OPTIMIZE ZORDER trick, as a pure Column
    * expression). Bit-spreading is 4 mask-shift rounds per dimension —
    * integer-exact on any engine, codegen-friendly, no UDF.
    *
    * Reported as the z-space histogram (top byte of z) with per-bucket
    * date/price spans, which is exactly the row-group stats view a
    * scan planner would prune against.
    */
  def zorderLayout(s: SparkSession, d: String): DataFrame = {
    // spread a 16-bit value's bits to the even positions of 32 bits
    def spread(c: Column): Column = {
      val s1 = (c.bitwiseOR(shiftleft(c, 8))).bitwiseAND(lit(0x00FF00FF))
      val s2 = (s1.bitwiseOR(shiftleft(s1, 4))).bitwiseAND(lit(0x0F0F0F0F))
      val s3 = (s2.bitwiseOR(shiftleft(s2, 2))).bitwiseAND(lit(0x33333333))
      (s3.bitwiseOR(shiftleft(s3, 1))).bitwiseAND(lit(0x55555555))
    }
    val day = datediff(col("l_shipdate").cast("date"),
      lit("1992-01-01").cast("date")).cast("long")
    // explicit floor: Spark's double→BIGINT cast truncates while
    // DuckDB's rounds — 3 sf0.1 prices crossed a bucket boundary
    val priceBucket = expr("CAST(floor(l_extendedprice) AS BIGINT) div 16")
    val z = spread(pmod(col("day"), lit(65536)).cast("int"))
      .cast("long")
      .bitwiseOR(shiftleft(spread(pmod(col("pb"), lit(65536)).cast("int"))
        .cast("long"), 1))
    lineitem(s, d)
      .withColumn("day", day).withColumn("pb", priceBucket)
      .withColumn("z", z)
      .groupBy(shiftright(col("z"), 24).as("zbucket"))
      .agg(count(lit(1)).as("n"),
        min(col("day")).as("min_day"), max(col("day")).as("max_day"),
        min(col("pb")).as("min_pb"), max(col("pb")).as("max_pb"))
      .orderBy(col("zbucket"))
  }

  /** 2-D skyline (Pareto frontier): the lineitem (price, quantity)
    * pairs not dominated by any other (lower-or-equal price AND
    * higher-or-equal quantity, at least one strict) — minimize price,
    * maximize quantity.
    *
    * The classic single-pass algorithm (sort by price, keep rows that
    * beat the running max quantity) needs a GLOBAL order, which as one
    * window would collapse to a single task. Instead it runs as the
    * same distributed two-pass scan as q101's prefix sum, with MAX as
    * the scan operator: range-partition by price (equal prices
    * co-locate), per-partition max-quantity (one tiny row per
    * partition to the driver), exclusive prefix-max broadcast back,
    * then a per-partition streaming filter against the running max.
    * Every pass is fully parallel; O(partitions) rows cross the
    * driver.
    */
  def skyline(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pts = lineitem(s, d)
      .select(col("l_extendedprice").as("price"), col("l_quantity").as("qty"))
      .distinct()
      .repartitionByRange(col("price"))
      .sortWithinPartitions(col("price"), col("qty").desc)
      .cache() // pin the sampled range bounds across both passes
    graft.util.CacheRegistry.register(pts)
    val partMax = pts
      .groupBy(spark_partition_id().as("pid")).agg(max(col("qty")).as("mq"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val nParts = pts.rdd.getNumPartitions
    val prefix = new Array[Double](nParts)
    var acc = Double.NegativeInfinity
    (0 until nParts).foreach { i =>
      prefix(i) = acc
      acc = math.max(acc, partMax.getOrElse(i, Double.NegativeInfinity))
    }
    val bc = s.sparkContext.broadcast(prefix)
    pts.as[(Double, Double)].mapPartitions { it =>
      var run = bc.value(org.apache.spark.TaskContext.getPartitionId())
      it.filter { case (_, q) =>
        val survives = q > run
        if (survives) run = q
        survives
      }
    }.toDF("price", "qty")
      .orderBy(col("price"), col("qty"))
  }

  /** TPC-H Q8-style market share: for ASIA customers, the fraction of
    * yearly revenue supplied from within ASIA. One fact scan, five
    * broadcast dimension joins (orders is the only co-shuffled side),
    * conditional decimal revenue, double division only at the end.
    */
  def marketShare(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
    val rev = (col("l_extendedprice").cast(Dec) *
      (lit(1).cast(Dec) - col("l_discount").cast(Dec)))
    val custAsia = customer(s, d)
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val suppRegion = supplier(s, d)
      .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("r_name").as("supp_region"))
    li.join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(custAsia, col("o_custkey") === col("c_custkey"), "left_semi")
      .join(broadcast(suppRegion), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        round(sum(rev), 2).cast("double").as("total_rev"),
        round(
          sum(when(col("supp_region") === "ASIA", rev).otherwise(lit(0).cast(Dec)))
            .cast("double") / sum(rev).cast("double"), 6).as("asia_share"))
      .orderBy(col("o_year"))
  }

  /** DataSketches approximate distinct users per event type: HLL and
    * Theta sketch estimates side by side with the exact count.
    * Algebraic/mergeable aggregates (one sketch per group × partition
    * crosses the shuffle) — the 100 TB path where exact distinct
    * means shuffling every key. Raw estimates are spec-only
    * (BreadthSpec pins the error); the registered q84 is the gate
    * form below.
    */
  private[graft] def sketchDistinctRaw(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("exact_users"),
        hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("hll_users"),
        round(theta_sketch_estimate(theta_sketch_agg(col("user_id"))), 0)
          .cast("long").as("theta_users"))
      .orderBy(col("event_type"))

  /** Sketch-distinct deterministic driver gate: exact count
    * (oracle-checkable) + booleans asserting each estimate sits inside
    * its declared 5% envelope (HLL lgK=12 → 1.6% rsd; Theta default k
    * is tighter still). Both sketches are hash-based and
    * order-independent → stable booleans, non-null gate.
    */
  def sketchDistinct(s: SparkSession, d: String): DataFrame =
    sketchDistinctRaw(s, d)
      .select(col("event_type"), col("exact_users"),
        (abs(col("hll_users") - col("exact_users")) <=
          col("exact_users").cast("double") * lit(0.05)).as("hll_ok"),
        (abs(col("theta_users") - col("exact_users")) <=
          col("exact_users").cast("double") * lit(0.05)).as("theta_ok"))
      .orderBy(col("event_type"))

  /** KLL quantile sketch (DataSketches) per event type: approximate
    * p50/p90 of `value`, raw — spec-only (BreadthSpec pins the RANK
    * error contract); the registered q88 is the gate form below.
    * Mergeable like the HLL/Theta aggregates — the shuffle carries one
    * ~KB sketch per group × partition, while the exact form must sort
    * every value.
    */
  private[graft] def kllQuantilesRaw(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("event_type"))
      .agg(
        kll_sketch_get_quantile_double(
          kll_sketch_agg_double(col("value")), lit(0.5)).as("kll_p50"),
        kll_sketch_get_quantile_double(
          kll_sketch_agg_double(col("value")), lit(0.9)).as("kll_p90"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** KLL deterministic driver gate. KLL compaction is randomized, so
    * the VALUES move run to run — but its actual guarantee is on RANK:
    * with k=200 the normalized rank error is ≈1.65% at 99% confidence.
    * The gate computes the exact empirical rank of each reported
    * quantile (one broadcast join back to the values) and asserts it
    * within ±4% (≈6σ — deterministic in practice) of the requested
    * rank, next to the exact oracle-checkable group count.
    */
  def kllQuantiles(s: SparkSession, d: String): DataFrame = {
    val est = kllQuantilesRaw(s, d)
      .select(col("event_type"), col("kll_p50"), col("kll_p90"))
    events(s, d)
      .join(broadcast(est), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        avg(when(col("value") <= col("kll_p50"), 1.0).otherwise(0.0)).as("r50"),
        avg(when(col("value") <= col("kll_p90"), 1.0).otherwise(0.0)).as("r90"))
      .select(col("event_type"), col("n"),
        (abs(col("r50") - lit(0.5)) <= lit(0.04)).as("p50_rank_ok"),
        (abs(col("r90") - lit(0.9)) <= lit(0.04)).as("p90_rank_ok"))
      .orderBy(col("event_type"))
  }

  /** q240: KLL quantile sketch as STREAMING state — the per-type
    * p50/p90 monitor every ingest pipeline hangs on its metrics
    * stream: the sketch aggregates inside the streaming groupBy
    * (sketch buffers ARE the state-store rows; micro-batch merges
    * ride KLL's mergeability, which is also why the bounds survive
    * arbitrary batch boundaries), and the final AvailableNow estimate
    * passes the q88 deterministic RANK gate against the batch corpus
    * (KLL values are randomized; its contract is rank error, ±4% ≈ 6σ
    * here).
    *
    * Scale shape: streaming state is one ~KB sketch per (type ×
    * shuffle partition); the gate join broadcasts the |types|-row
    * estimate table. An unbounded run emits the same estimates per
    * trigger instead of once.
    */
  def streamKllGate(s: SparkSession, d: String): DataFrame =
    graft.util.StreamTuning.withShuffle(s, 8) {
      val path = s"$d/events.parquet"
      val out = graft.util.TmpDirs.scratch("stream-kll")
      val sketches = s.readStream.schema(graft.util.Tables.table(s, d, "events").schema)
        .parquet(s"$d/events.parquet*")
        .groupBy(col("event_type"))
        .agg(kll_sketch_agg_double(col("value")).as("sk"))
        .select(col("event_type"),
          kll_sketch_get_quantile_double(col("sk"), lit(0.5)).as("kll_p50"),
          kll_sketch_get_quantile_double(col("sk"), lit(0.9)).as("kll_p90"))
      graft.util.StreamTuning.drain(sketches, "complete") { (batch, _) =>
        batch.write.mode("overwrite").parquet(out)
      }
      val est = s.read.parquet(out)
      events(s, d)
        .join(broadcast(est), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          avg(when(col("value") <= col("kll_p50"), 1.0).otherwise(0.0)).as("r50"),
          avg(when(col("value") <= col("kll_p90"), 1.0).otherwise(0.0)).as("r90"))
        .select(col("event_type"), col("n"),
          (abs(col("r50") - lit(0.5)) <= lit(0.04)).as("p50_rank_ok"),
          (abs(col("r90") - lit(0.9)) <= lit(0.04)).as("p90_rank_ok"))
        .orderBy(col("event_type"))
    }

  /** Semi-structured access through the VARIANT type (binary
    * semi-structured encoding, typed path extraction) — the Spark-4
    * answer to schemaless JSON columns at scale: parse once, then
    * typed variant_get per path, no per-query string re-parsing.
    */
  def variantProps(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_type"),
        variant_get(parse_json(col("props")), "$.k", "bigint").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  /** XML construct → parse round-trip (to_xml/from_xml with an
    * explicit schema — inference is a scan you don't pay at scale),
    * aggregated over the parsed fields so the oracle checks the
    * whole serialize/deserialize path from the source table.
    */
  def xmlRoundTrip(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(to_xml(struct(col("o_orderkey"), col("o_orderstatus"))).as("x"))
      .select(from_xml(col("x"),
        lit("o_orderkey BIGINT, o_orderstatus STRING")).as("r"))
      .groupBy(col("r.o_orderstatus").as("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("r.o_orderkey")).as("sum_key"))
      .orderBy(col("o_orderstatus"))

  /** Top-5 lineitems per (returnflag, linestatus) through the custom
    * TopKPerGroup physical operator (graft.plans — logical node +
    * strategy + two-phase bounded-heap exec): map-side pruning to
    * ≤ k rows per group per partition BEFORE the exchange, where the
    * window row_number form shuffles and sorts the whole corpus. The
    * order column list is a total order, so the oracle (row_number
    * form in DuckDB) pins exactness.
    */
  def topKExec(s: SparkSession, d: String): DataFrame =
    graft.plans.TopKPerGroup.topK(
      lineitem(s, d).select(col("l_returnflag"), col("l_linestatus"),
        col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
      Seq("l_returnflag", "l_linestatus"),
      Seq("l_extendedprice", "l_orderkey", "l_linenumber"), 5)
      .orderBy(col("l_returnflag"), col("l_linestatus"),
        col("l_extendedprice").desc, col("l_orderkey").desc,
        col("l_linenumber").desc)

  /** Contingency table (DataFrameStatFunctions.crosstab): event type ×
    * user-id bucket counts as a wide table. Column names come from the
    * bucket values — sorted and cast so the oracle's FILTER pivot
    * matches exactly.
    */
  def crosstab(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("bucket", pmod(col("user_id"), lit(3)))
      .stat.crosstab("event_type", "bucket")
      .select(col("event_type_bucket"),
        col("0").as("b0"), col("1").as("b1"), col("2").as("b2"))
      .orderBy(col("event_type_bucket"))

  /** Covariance from exact decimal moments (q63's discipline applied
    * to covar): cov_samp(value, user_id) per event type computed as
    * (Σxy − ΣxΣy/n)/(n−1) over DECIMAL sums — order-independent where
    * the built-in double accumulation is not, so it hash-matches
    * DuckDB bit-for-bit.
    */
  def covariance(s: SparkSession, d: String): DataFrame = {
    val x = col("value").cast(DataTypes.createDecimalType(28, 9))
    val y = col("user_id").cast(DataTypes.createDecimalType(28, 9))
    events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(x * y).as("sxy"), sum(x).as("sx"), sum(y).as("sy"))
      .select(col("event_type"), col("n"),
        round((col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double") / col("n")) /
          (col("n") - 1), 6).as("cov_samp"))
      .orderBy(col("event_type"))
  }

  /** Null-semantics suite: nullif/coalesce/nvl2, null-safe equality
    * (`<=>` ⟷ IS NOT DISTINCT FROM), and how aggregates skip NULLs —
    * the classic cross-engine parity minefield, pinned by hash.
    * NULLs are synthesized deterministically (every 10th event).
    */
  def nullFuncs(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("maybe", when(col("event_id") % 10 =!= 0, col("value")))
      .groupBy(col("event_type"))
      .agg(
        count(col("maybe")).as("n_nonnull"),
        count(lit(1)).as("n_all"),
        expr("count_if(maybe <=> NULL)").as("n_null_safe"),
        round(sum(coalesce(col("maybe"), lit(0.0))
          .cast(DataTypes.createDecimalType(28, 9))), 4)
          .cast("double").as("sum_coalesced"),
        expr("count_if(nvl2(maybe, 'x', 'y') = 'y')").as("n_nvl2_null"))
      .orderBy(col("event_type"))

  /** ANSI-safety family: try_divide / try_add / try_cast return NULL
    * instead of erroring on /0, overflow, and bad casts — the
    * behavior a pipeline needs when a malformed row must not kill a
    * 100 TB job. DuckDB mirrors each with explicit CASE guards.
    */
  def tryFuncs(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_type"),
        expr("try_divide(value, pmod(event_id, 3))").as("d3"),
        expr("try_add(9223372036854775807L, pmod(event_id, 2))").as("ov"),
        expr("try_cast(concat('1', repeat('0', cast(pmod(event_id, 30) as int))) as bigint)")
          .as("big"))
      .groupBy(col("event_type"))
      .agg(count(col("d3")).as("n_div_ok"),
        count(lit(1)).minus(count(col("ov"))).as("n_overflow"),
        count(col("big")).as("n_cast_ok"))
      .orderBy(col("event_type"))

  /** Spark-4 collation support: grouping under UTF8_LCASE folds case
    * variants of the language code (synthesized deterministically)
    * into one group; the oracle lower()s explicitly.
    */
  def collation(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("lang_mixed",
        when(col("doc_id") % 2 === 0, upper(col("lang"))).otherwise(col("lang")))
      .groupBy(expr("collate(lang_mixed, 'UTF8_LCASE')").as("lang_ci"))
      .agg(count(lit(1)).as("n"))
      .select(lower(col("lang_ci")).as("lang_ci"), col("n"))
      .orderBy(col("lang_ci"))

  /** Bucketed co-located join, oracle-checked end to end: both sides
    * written bucketBy(8) on the join key to scratch-located catalog
    * tables, then joined and aggregated. With matching bucket counts
    * the join needs NO exchange (BucketingSpec pins that plan); here
    * the result itself is hash-checked from the source tables, so
    * bucketed write → catalog read → join semantics are verified too.
    */
  def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    s.sql("DROP TABLE IF EXISTS graft_li_b")
    s.sql("DROP TABLE IF EXISTS graft_o_b")
    // a 1/5 key slice keeps the bucketed-write cost proportionate to
    // the demo; both sides slice on the JOIN key so results align
    lineitem(s, d).filter(col("l_orderkey") % 5 === 0)
      .select(col("l_orderkey"), col("l_quantity"))
      .write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", graft.util.TmpDirs.scratch("bucketed-li"))
      .saveAsTable("graft_li_b")
    orders(s, d).filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", graft.util.TmpDirs.scratch("bucketed-o"))
      .saveAsTable("graft_o_b")
    s.table("graft_li_b")
      .join(s.table("graft_o_b"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity").cast(Dec)), 2).cast("double").as("sum_qty"))
      .orderBy(col("o_orderpriority"))
  }

  /** Discrete percentiles (percentile_disc WITHIN GROUP — an actual
    * member of the value set, vs q42's interpolated continuous form).
    */
  def percentileDisc(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("event_type"))
      .agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("p50_disc"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY value)").as("p90_disc"))
      .orderBy(col("event_type"))

  /** Fixed-width value histogram per event type (feature binning):
    * bin = floor(value / 100), exact on both engines.
    */
  def histogram(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("event_type"),
        floor(col("value") / 100).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"), col("bin"))

  /** q179: the Observation/CollectMetrics API — pipeline-health
    * counters collected ON THE SIDE of a real pass instead of a second
    * scan. The query runs one filtering pass over lineitem (the
    * "work"), piggybacks row/sum/min/max metrics on it via
    * `Dataset.observe`, and emits the observed metrics as the result —
    * the exactly-once metrics pattern a production pipeline wires into
    * its batch listener.
    *
    * Determinism: all observed values are exact (counts, DECIMAL sum,
    * string min/max); the sum is rounded in decimal domain.
    *
    * Scale shape: CollectMetricsExec accumulates per-partition and
    * merges on the driver — zero extra jobs, zero shuffles beyond the
    * pass it rides on; the pass itself is one filter+count over the
    * pruned scan.
    */
  def observedMetrics(s: SparkSession, d: String): DataFrame = {
    val obs = new org.apache.spark.sql.Observation()
    val passed = lineitem(s, d)
      .filter(col("l_quantity") >= 25)
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(col("l_extendedprice").cast(DataTypes.createDecimalType(28, 6)))
          .as("sum_price"),
        min(col("l_returnflag")).as("min_flag"),
        max(col("l_linestatus")).as("max_status"))
      .count() // the action the metrics ride on
    val m = obs.get
    import s.implicits._
    Seq((
      passed,
      m("n_rows").asInstanceOf[Long],
      BigDecimal(m("sum_price").asInstanceOf[java.math.BigDecimal])
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble,
      m("min_flag").asInstanceOf[String],
      m("max_status").asInstanceOf[String]))
      .toDF("n_passed", "n_rows", "sum_price", "min_flag", "max_status")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q179_observe" -> observedMetrics _,
    "q120_weighted_sample"  -> weightedSample _,
    "q121_zscore_outliers"  -> zscoreOutliers _,
    "q122_skyline"          -> skyline _,
    "q123_zorder"           -> zorderLayout _,
    "q92_crosstab"          -> crosstab _,
    "q93_covariance"        -> covariance _,
    "q95_null_funcs"        -> nullFuncs _,
    "q96_try_funcs"         -> tryFuncs _,
    "q97_collation"         -> collation _,
    "q98_bucketed_join"     -> bucketedJoin _,
    "q99_percentile_disc"   -> percentileDisc _,
    "q100_histogram"        -> histogram _,
    "q87_topk_exec"         -> topKExec _,
    "q79_map_funcs"         -> mapFuncs _,
    "q80_struct_topn"       -> structTopN _,
    "q81_cond_agg"          -> condAgg _,
    "q82_stratified_sample" -> stratifiedSample _,
    "q83_market_share"      -> marketShare _,
    "q84_sketch_distinct"   -> sketchDistinct _,
    "q85_variant_props"     -> variantProps _,
    "q86_xml_roundtrip"     -> xmlRoundTrip _,
    "q88_kll_quantiles"     -> kllQuantiles _,
    "q240_stream_kll"       -> streamKllGate _,
  )

  val oracleSql: Map[String, String] = Map(
    "q179_observe" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_passed,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(28,6))), 2)
        |    AS DOUBLE) AS sum_price,
        |  min(l_returnflag) AS min_flag,
        |  max(l_linestatus) AS max_status
        |FROM lineitem WHERE l_quantity >= 25""".stripMargin,
    "q123_zorder" ->
      """WITH t AS (
        |  SELECT date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
        |           AS day,
        |         CAST(floor(l_extendedprice) AS BIGINT) // 16 AS pb
        |  FROM lineitem),
        |s0 AS (SELECT day, pb, CAST(day % 65536 AS BIGINT) AS a,
        |              CAST(pb % 65536 AS BIGINT) AS b FROM t),
        |s1 AS (SELECT day, pb, (a | (a << 8)) & 16711935 AS a,
        |              (b | (b << 8)) & 16711935 AS b FROM s0),
        |s2 AS (SELECT day, pb, (a | (a << 4)) & 252645135 AS a,
        |              (b | (b << 4)) & 252645135 AS b FROM s1),
        |s3 AS (SELECT day, pb, (a | (a << 2)) & 858993459 AS a,
        |              (b | (b << 2)) & 858993459 AS b FROM s2),
        |s4 AS (SELECT day, pb, (a | (a << 1)) & 1431655765 AS a,
        |              (b | (b << 1)) & 1431655765 AS b FROM s3),
        |z AS (SELECT day, pb, a | (b << 1) AS z FROM s4)
        |SELECT z >> 24 AS zbucket, count(*) AS n,
        |  min(day) AS min_day, max(day) AS max_day,
        |  min(pb) AS min_pb, max(pb) AS max_pb
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,
    "q122_skyline" ->
      """WITH pts AS (
        |  SELECT DISTINCT l_extendedprice AS price, l_quantity AS qty
        |  FROM lineitem),
        |w AS (
        |  SELECT price, qty,
        |    max(qty) OVER (ORDER BY price, qty DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mq
        |  FROM pts)
        |SELECT price, qty FROM w
        |WHERE mq IS NULL OR mq < qty
        |ORDER BY price, qty""".stripMargin,
    "q120_weighted_sample" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    ('0x' || substr(md5('ws|' || CAST(o_orderkey AS VARCHAR)), 1, 13))::BIGINT
        |      AS h
        |  FROM orders)
        |SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS weight,
        |  round(-ln((h + 1) / 4503599627370496.0) / o_totalprice * 1e6, 6)
        |    AS rank_key_ppm
        |FROM o
        |ORDER BY -ln((h + 1) / 4503599627370496.0) / o_totalprice, o_orderkey
        |LIMIT 10""".stripMargin,
    "q121_zscore_outliers" ->
      """WITH s AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(CAST(value AS DECIMAL(28,6))) AS sv,
        |    sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
        |      AS svv
        |  FROM events GROUP BY 1),
        |st AS (
        |  SELECT event_type,
        |    CAST(sv AS DOUBLE) / n AS mean,
        |    sqrt(CAST(svv AS DOUBLE) / n
        |         - (CAST(sv AS DOUBLE) / n) * (CAST(sv AS DOUBLE) / n)) AS sd
        |  FROM s)
        |SELECT e.event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN abs((value - mean) / sd) > 3 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers,
        |  round(max((value - mean) / sd), 4) AS max_z,
        |  round(min((value - mean) / sd), 4) AS min_z
        |FROM events e JOIN st ON e.event_type = st.event_type
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q84_sketch_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |  TRUE AS hll_ok, TRUE AS theta_ok
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q88_kll_quantiles" ->
      """SELECT event_type, count(*) AS n,
        |  TRUE AS p50_rank_ok, TRUE AS p90_rank_ok
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // q240 streams the sketch but answers to the same rank contract
    "q240_stream_kll" ->
      """SELECT event_type, count(*) AS n,
        |  TRUE AS p50_rank_ok, TRUE AS p90_rank_ok
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q98_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_orderkey % 5 = 0
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q99_percentile_disc" ->
      """SELECT event_type,
        |  quantile_disc(value, 0.5) AS p50_disc,
        |  quantile_disc(value, 0.9) AS p90_disc
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q100_histogram" ->
      """SELECT event_type, CAST(floor(value / 100) AS BIGINT) AS bin,
        |  count(*) AS n
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY event_type, bin""".stripMargin,
    "q95_null_funcs" ->
      """WITH t AS (
        |  SELECT event_type,
        |    CASE WHEN event_id % 10 <> 0 THEN value END AS maybe
        |  FROM events)
        |SELECT event_type,
        |  count(maybe) AS n_nonnull,
        |  count(*) AS n_all,
        |  count(*) FILTER (maybe IS NOT DISTINCT FROM NULL) AS n_null_safe,
        |  CAST(round(sum(CAST(coalesce(maybe, 0.0) AS DECIMAL(28,9))), 4)
        |    AS DOUBLE) AS sum_coalesced,
        |  count(*) FILTER (maybe IS NULL) AS n_nvl2_null
        |FROM t
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q96_try_funcs" ->
      """WITH t AS (
        |  SELECT event_type,
        |    CASE WHEN event_id % 3 <> 0 THEN 1 END AS d3,
        |    CASE WHEN event_id % 2 = 0 THEN 1 END AS ov_ok,
        |    CASE WHEN event_id % 30 <= 18 THEN 1 END AS big_ok
        |  FROM events)
        |SELECT event_type,
        |  count(d3) AS n_div_ok,
        |  count(*) - count(ov_ok) AS n_overflow,
        |  count(big_ok) AS n_cast_ok
        |FROM t
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q97_collation" ->
      """SELECT lower(lang) AS lang_ci, count(*) AS n
        |FROM documents
        |GROUP BY 1
        |ORDER BY lang_ci""".stripMargin,
    "q92_crosstab" ->
      """SELECT event_type AS event_type_bucket,
        |  count(*) FILTER (user_id % 3 = 0) AS b0,
        |  count(*) FILTER (user_id % 3 = 1) AS b1,
        |  count(*) FILTER (user_id % 3 = 2) AS b2
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q93_covariance" ->
      """WITH m AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(CAST(value AS DECIMAL(28,9)) * CAST(user_id AS DECIMAL(28,9))) AS sxy,
        |    sum(CAST(value AS DECIMAL(28,9))) AS sx,
        |    sum(CAST(user_id AS DECIMAL(28,9))) AS sy
        |  FROM events GROUP BY event_type)
        |SELECT event_type, n,
        |  round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
        |        / (n - 1), 6) AS cov_samp
        |FROM m
        |ORDER BY event_type""".stripMargin,
    "q87_topk_exec" ->
      """WITH r AS (
        |  SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber,
        |    l_extendedprice,
        |    row_number() OVER (PARTITION BY l_returnflag, l_linestatus
        |      ORDER BY l_extendedprice DESC, l_orderkey DESC,
        |               l_linenumber DESC) AS rn
        |  FROM lineitem)
        |SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber,
        |  l_extendedprice
        |FROM r WHERE rn <= 5
        |ORDER BY l_returnflag, l_linestatus, l_extendedprice DESC,
        |  l_orderkey DESC, l_linenumber DESC""".stripMargin,
    "q79_map_funcs" ->
      """WITH c AS (
        |  SELECT o_orderpriority, o_orderstatus, count(*) AS n
        |  FROM orders GROUP BY 1, 2),
        |s AS (SELECT o_orderpriority, count(*) AS n_statuses FROM c GROUP BY 1)
        |SELECT c.o_orderpriority, s.n_statuses, c.o_orderstatus, c.n * 2 AS n2
        |FROM c JOIN s USING (o_orderpriority)
        |WHERE c.n % 2 = 0
        |ORDER BY o_orderpriority, o_orderstatus""".stripMargin,
    "q80_struct_topn" ->
      """WITH r AS (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rank
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT c_mktsegment, rank, o_orderkey, o_totalprice AS price
        |FROM r WHERE rank <= 3
        |ORDER BY c_mktsegment, rank""".stripMargin,
    "q81_cond_agg" ->
      """SELECT l_returnflag,
        |  count(*) FILTER (l_quantity > 25) AS n_big,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(28,6)))
        |    FILTER (l_discount > 0.05), 2) AS DOUBLE) AS disc_qty,
        |  bool_or(l_tax > 0.07) AS any_high_tax,
        |  bool_and(l_quantity >= 1) AS all_positive
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q82_stratified_sample" ->
      """WITH t AS (
        |  SELECT l_returnflag, l_quantity,
        |    ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '|'
        |      || CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket,
        |    CASE l_returnflag WHEN 'A' THEN 10 WHEN 'N' THEN 20 ELSE 50 END AS rate
        |  FROM lineitem)
        |SELECT l_returnflag, count(*) AS n,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_qty
        |FROM t WHERE bucket < rate
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q83_market_share" ->
      """WITH cust_asia AS (
        |  SELECT c_custkey
        |  FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'),
        |supp AS (
        |  SELECT s_suppkey, r_name AS supp_region
        |  FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey),
        |f AS (
        |  SELECT year(o_orderdate) AS o_year,
        |    CAST(l_extendedprice AS DECIMAL(28,6))
        |      * (CAST(1 AS DECIMAL(28,6)) - CAST(l_discount AS DECIMAL(28,6))) AS rev,
        |    supp_region
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supp ON l_suppkey = s_suppkey
        |  WHERE o_custkey IN (SELECT c_custkey FROM cust_asia))
        |SELECT CAST(o_year AS BIGINT) AS o_year,
        |  CAST(round(sum(rev), 2) AS DOUBLE) AS total_rev,
        |  round(CAST(sum(CASE WHEN supp_region = 'ASIA' THEN rev
        |                      ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
        |        / CAST(sum(rev) AS DOUBLE), 6) AS asia_share
        |FROM f
        |GROUP BY o_year
        |ORDER BY o_year""".stripMargin,
    "q85_variant_props" ->
      """WITH t AS (
        |  SELECT event_type,
        |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type, count(k) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
        |  min(k) AS min_k, max(k) AS max_k
        |FROM t
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q86_xml_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
  )
}
