package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Memo
import graft.util.Tables._

/** Distributed graph analytics over relationship graphs derived from
  * the TPC-H-ish tables (SURVEY.md §2.2 extension surface). First
  * member: exact triangle counting on the part co-purchase graph —
  * the market-basket community signal (parts that sell together in
  * clusters), and the canonical "does your engine do graphs without
  * exploding" benchmark.
  *
  * Scale shape — the textbook degree-oriented wedge join:
  *  - edge build: per-order part pairs; the expansion is bounded by
  *    order width (≤ order line count choose 2, TPC-H ≤ 7 lines → ≤ 21
  *    pairs/order; a web-scale basket table caps basket width first),
  *    then one (u,v)-keyed count prunes to support ≥ 2.
  *  - orientation: every undirected edge points from the
  *    (degree, node)-smaller endpoint to the larger. Out-degrees are
  *    then O(√m) amortized (Schank/Wagner), so the wedge join's
  *    per-key width — and any task's memory — is bounded regardless of
  *    how skewed the raw degree distribution is. That bound is WHY
  *    this beats the naive 3-way self-join at 100 TB.
  *  - count: wedges (s→v, s→w with v before w in the same total
  *    order) close iff the oriented edge v→w exists — one equi-join;
  *    each triangle is found exactly once.
  */
object Graph {

  /** Distinct (order, part) incidence — the bipartite basket table,
    * memo-CACHED per (session, sf dir): every graph query shares ONE
    * build instead of re-running the distinct per query (what a
    * production pipeline does by materializing the basket table).
    */
  private val incMemo = new Memo[(SparkSession, String), DataFrame]
  private def incidence(s: SparkSession, d: String): DataFrame =
    incMemo((s, d))(graft.util.CacheRegistry.register(
      lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
        .cache()))

  /** Co-purchase edges: unordered part pairs sharing ≥ `minSupport`
    * orders. u < v by part key, one row per edge. Memo-CACHED per
    * (session, sf dir, minSupport) — the basket self-join is the
    * graph family's shared expensive stage (q126/q130/q133/q174/
    * q220/q227/q268 all ride it), so it runs once per session.
    */
  /** Raw unordered pair counts (u, v, cuv) over the basket incidence —
    * the ONE basket self-join the whole graph family derives from,
    * memo-CACHED per (session, sf dir): copurchaseEdges filters it to
    * the support threshold and q174's rule mining consumes the counts
    * directly, so the expensive pair aggregation runs once per session
    * instead of once per consumer (guide §1.2: remove repeated passes).
    */
  private val pairCountMemo = new Memo[(SparkSession, String), DataFrame]
  private def pairCounts(s: SparkSession, d: String): DataFrame =
    pairCountMemo((s, d))(graft.util.CacheRegistry.register {
      val li = incidence(s, d)
      li.as("a").join(li.as("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("u"), col("b.p").as("v"))
        .agg(count(lit(1)).as("cuv"))
        .cache()
    })

  private val edgeMemo = new Memo[(SparkSession, String, Long), DataFrame]
  private def copurchaseEdges(s: SparkSession, d: String,
      minSupport: Long): DataFrame =
    edgeMemo((s, d, minSupport))(graft.util.CacheRegistry.register {
      pairCounts(s, d)
        .filter(col("cuv") >= minSupport)
        .select(col("u"), col("v"))
        .cache()
    })

  /** Top parts by triangle participation in the co-purchase graph:
    * (part, n_triangles), n_triangles desc then part asc, top 10.
    * Every triangle credits all three corners.
    */
  def triangleParts(s: SparkSession, d: String, minSupport: Long = 2L,
      topK: Int = 10): DataFrame =
    // the memoized edge cache feeds the degree count AND the
    // orientation join — uncached, the basket self-join would rerun 3×
    triangleCounts(copurchaseEdges(s, d, minSupport))
      .orderBy(col("n_triangles").desc, col("p_key"))
      .limit(topK)

  /** Per-node triangle participation over an undirected edge list
    * (columns u, v; u ≠ v, one row per edge): (p_key, n_triangles).
    */
  private[graft] def triangleCounts(e: DataFrame): DataFrame = {
    val deg = e.select(col("u").as("n"))
      .unionAll(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    // orient by the (degree, node) total order — out-degree O(√m)
    val withDeg = e
      .join(deg.select(col("n").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), Seq("v"))
    // cached: the oriented edge list is the probe, wedge, AND closing
    // side of the count — three scans of one edge-sized table
    val oriented = graft.util.CacheRegistry.register(withDeg.select(
      when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
        struct(col("u").as("s"), col("v").as("t"),
          col("dv").as("dt")))
        .otherwise(struct(col("v").as("s"), col("u").as("t"),
          col("du").as("dt"))).as("o"))
      .select(col("o.s").as("s"), col("o.t").as("t"), col("o.dt").as("dt"))
      .cache())
    // wedges around each source, ordered within the same total order,
    // closed by the (consistently oriented) third edge
    val tri = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.s") === col("e2.s") &&
          struct(col("e1.dt"), col("e1.t")) < struct(col("e2.dt"), col("e2.t")))
      .join(oriented.as("e3"),
        col("e3.s") === col("e1.t") && col("e3.t") === col("e2.t"), "left_semi")
      .select(col("e1.s").as("a"), col("e1.t").as("b"), col("e2.t").as("c"))
    tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("p_key"))
      .groupBy(col("p_key"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Symmetric adjacency (s, t, deg_s) of the co-purchase graph —
    * every undirected edge in both directions, with the source's
    * degree attached once so iterative algorithms don't recompute it.
    */
  private def adjacency(e: DataFrame): DataFrame = {
    val adj = e.select(col("u").as("s"), col("v").as("t"))
      .unionAll(e.select(col("v").as("s"), col("u").as("t")))
    val deg = adj.groupBy(col("s").as("n")).agg(count(lit(1)).as("deg"))
    adj.join(deg, adj("s") === deg("n")).select(col("s"), col("t"), col("deg"))
  }

  /** Plain symmetric adjacency (s, t) of the co-purchase graph,
    * memo-CACHED per (session, sf dir, minSupport): q133/q227/q268 each
    * re-derived (and re-cached) the same two-way union per CALL — and
    * q227 probes it twice per peel round. One cached instance per
    * session, the same shared-stage accounting as copurchaseEdges
    * (guide §1.2: pass 1 pays the fill, CacheRegistry clears it).
    */
  private val symAdjMemo = new Memo[(SparkSession, String, Long), DataFrame]
  private def symAdj(s: SparkSession, d: String, minSupport: Long): DataFrame =
    symAdjMemo((s, d, minSupport))(graft.util.CacheRegistry.register {
      val e = copurchaseEdges(s, d, minSupport)
      e.select(col("u").as("s"), col("v").as("t"))
        .unionAll(e.select(col("v").as("s"), col("u").as("t")))
        .cache()
    })

  /** Degree-attached adjacency (s, t, deg_s) + its node set, the
    * per-iteration probe tables of q130's PageRank — memo-CACHED per
    * (session, sf dir, minSupport) like [[symAdj]], with the node
    * count (a scalar of the algorithm) memoized alongside so repeat
    * calls skip the count job.
    */
  private val degAdjMemo = new Memo[
    (SparkSession, String, Long), (DataFrame, DataFrame, Long)]
  private def degAdj(s: SparkSession, d: String,
      minSupport: Long): (DataFrame, DataFrame, Long) =
    degAdjMemo((s, d, minSupport)) {
      val sa = symAdj(s, d, minSupport)
      val deg = sa.groupBy(col("s").as("n")).agg(count(lit(1)).as("deg"))
      val adj = graft.util.CacheRegistry.register(
        sa.join(deg, sa("s") === deg("n"))
          .select(col("s"), col("t"), col("deg")).cache())
      val (nodes, nN) = graphNodes(s, d, minSupport)
      (adj, nodes, nN)
    }

  /** The graph's node set + its count, memo-CACHED per (session, sf
    * dir, minSupport): q130/q133/q227/q268 each need the node catalog
    * (or just its size, for the localized-iterate guard below) and
    * each used to re-derive it per call.
    */
  private val nodesMemo = new Memo[
    (SparkSession, String, Long), (DataFrame, Long)]
  private def graphNodes(s: SparkSession, d: String,
      minSupport: Long): (DataFrame, Long) =
    nodesMemo((s, d, minSupport)) {
      val nodes = graft.util.CacheRegistry.register(
        symAdj(s, d, minSupport).select(col("s").as("n")).distinct().cache())
      (nodes, nodes.count())
    }

  /** The localized-iterate guard — the same decision rule as
    * [[maybeBroadcastNodes]]: when a node-sized table provably fits the
    * session's broadcast threshold, the engine would collect it to the
    * driver ANYWAY to build each iteration's broadcast relation, so
    * collecting it once per round and re-broadcasting a LOCAL relation
    * moves the identical bytes while buying a constant-depth plan and
    * one job per round instead of three-plus (broadcast build +
    * localCheckpoint materialization + convergence count). Past the
    * threshold — or with auto-broadcast disabled — the callers run
    * their distributed localCheckpoint iterate unchanged, exactly the
    * fallback discipline GraphAuditSpec pins for q130.
    */
  private[graft] def nodesFitBroadcast(s: SparkSession, nN: Long): Boolean = {
    val conf = s.conf
      .get("spark.sql.autoBroadcastJoinThreshold", "10485760").trim
    val thr =
      try {
        if (conf.startsWith("-")) -1L
        else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(conf)
      } catch { case _: Throwable => 10L << 20 }
    thr > 0 && nN * 32L <= thr
  }

  /** PageRank over the co-purchase graph, 3 unrolled iterations,
    * damping 0.85, in EXACT integer arithmetic: ranks live in 1e-12
    * units (BIGINT), each neighbor contribution is `rank div deg`
    * (integer division), and the damping step is `(85 * Σ) div 100`.
    * Every operation is order-free and bit-identical on any engine —
    * no float summation nondeterminism at any core count, which is
    * what makes a 1000-executor PageRank reproducible run to run.
    * Mass lost to the integer floors stays in the algorithm's
    * definition (both engines floor identically).
    *
    * Scale shape: per iteration, ONE shuffle — adjacency ⋈ ranks on
    * the source key, then a target-keyed aggregation; the (node,
    * rank) table is narrow (16 bytes/row), degrees ride along with
    * the adjacency, and contribution magnitudes are bounded by the
    * total mass (1e12), so the BIGINT sums cannot overflow at any
    * node count.
    */
  def pageRank(s: SparkSession, d: String, minSupport: Long = 2L,
      iters: Int = 3, topK: Int = 10): DataFrame = {
    // the cached adjacency/node tables are the session-shared stage
    // (degAdj memo); the iteration body is identical to pageRankOn's
    val (adj, nodes, nN) = degAdj(s, d, minSupport)
    if (!nodesFitBroadcast(s, nN))
      return pageRankIter(adj, nodes, nN, iters)
        .orderBy(col("rank_e12").desc, col("p_key"))
        .limit(topK)
    // Localized iterate (the q112 localized-centroid discipline, see
    // nodesFitBroadcast): the rank table is node-sized and WOULD be
    // driver-collected per round to build its broadcast — collect it
    // once per round instead. The contribution aggregation (the
    // edge-sized work) stays distributed and byte-identical:
    // `r div deg` / `85·cs div 100` on non-negative longs == Scala `/`,
    // partial sums are exact integers, coalesce(cs,0) == getOrElse 0 —
    // so the trajectory is bit-exact vs pageRankIter (Round17OpsSpec
    // pins the equality).
    import s.implicits._
    val Scale = 1000000000000L
    val r0 = Scale / nN
    val base = (Scale * 15L / 100L) / nN
    val nodeIds = nodes.as[Long].collect().sorted
    var ranks: Array[(Long, Long)] = nodeIds.map(_ -> r0)
    (1 to iters).foreach { _ =>
      val rdf = broadcast(ranks.toSeq.toDF("n", "r"))
      val cs = adj.join(rdf, adj("s") === rdf("n"))
        .select(col("t"), expr("r div deg").as("c"))
        .groupBy(col("t")).agg(sum(col("c")).as("cs"))
        .as[(Long, Long)].collect().toMap
      ranks = nodeIds.map(n => n -> (base + 85L * cs.getOrElse(n, 0L) / 100L))
    }
    ranks.toSeq.toDF("p_key", "rank_e12")
      .orderBy(col("rank_e12").desc, col("p_key"))
      .limit(topK)
  }

  /** Broadcast a node-sized table (ranks / contributions) only while
    * it provably fits the session's broadcast threshold — nN × 32 B is
    * a conservative broadcast-hash-map estimate for a (long, long)
    * row. Past the threshold (or with auto-broadcast disabled) the
    * frame is returned unhinted, so the per-iteration join DEGRADES to
    * a shuffled equi-join instead of OOMing the driver on a general
    * node-heavy graph — the r6 verdict's missing fallback, pinned by
    * GraphAuditSpec.
    */
  private[graft] def maybeBroadcastNodes(ranks: DataFrame, nN: Long): DataFrame =
    if (nodesFitBroadcast(ranks.sparkSession, nN)) broadcast(ranks) else ranks

  /** Integer-exact PageRank over an undirected edge list (u, v):
    * (p_key, rank_e12) for every node. See [[pageRank]].
    */
  private[graft] def pageRankOn(e: DataFrame, iters: Int): DataFrame = {
    // cache the graph, not the iterates: every iteration (and the
    // final action) would otherwise re-derive the basket self-join —
    // the same graph-pinning GraphX does for its iterative algorithms
    val adj = graft.util.CacheRegistry.register(adjacency(e).cache())
    val nodes = graft.util.CacheRegistry.register(
      adj.select(col("s").as("n")).distinct().cache())
    val nN = nodes.count() // one small job; N is a scalar of the algorithm
    pageRankIter(adj, nodes, nN, iters)
  }

  private def pageRankIter(adj: DataFrame, nodes: DataFrame, nN: Long,
      iters: Int): DataFrame = {
    val Scale = 1000000000000L // 1e12: rank mass units
    val r0 = Scale / nN
    val base = (Scale * 15L / 100L) / nN
    var ranks = nodes.withColumn("r", lit(r0))
    (1 to iters).foreach { _ =>
      // rank/contribution tables are node-sized (the part catalog —
      // dwarfed by the edge/basket data): broadcast them — WHILE they
      // fit the broadcast threshold (maybeBroadcastNodes; a general
      // node-heavy graph degrades to a shuffled join instead of OOMing
      // the driver) — so the cached adjacency is map-side probed,
      // never re-shuffled per iteration; the only exchange per
      // iteration is then the target-keyed rollup.
      // localCheckpoint truncates the iterate's lineage — without it
      // the logical plan (and Catalyst's per-action planning cost)
      // grows with every iteration, the exact failure GraphX Pregel's
      // periodic checkpoint exists for; a cluster deployment with
      // executor churn uses checkpoint() to reliable storage instead.
      val contrib = adj.join(maybeBroadcastNodes(ranks, nN), adj("s") === ranks("n"))
        .select(col("t"), expr("r div deg").as("c"))
        .groupBy(col("t")).agg(sum(col("c")).as("cs"))
      ranks = nodes.join(maybeBroadcastNodes(contrib, nN), nodes("n") === contrib("t"), "left")
        .select(col("n"),
          (lit(base) + expr(s"85 * coalesce(cs, 0L) div 100")).as("r"))
        .localCheckpoint()
    }
    ranks.select(col("n").as("p_key"), col("r").as("rank_e12"))
  }

  /** Multi-source BFS: nodes reachable within 3 hops of the 3
    * smallest part keys in the co-purchase graph, reported as
    * (hop, n_nodes) at each node's MINIMUM distance.
    *
    * Scale shape: textbook frontier BFS — per hop, one equi-join
    * (frontier ⋈ adjacency) plus one anti-join against the visited
    * set; the frontier and visited tables are single-column. The
    * oracle's recursive CTE enumerates paths; the engine never does —
    * visited-set pruning keeps per-hop work proportional to the
    * frontier, not to the path count, which is the difference between
    * BFS and exponential blowup on dense graphs.
    */
  def bfsReach(s: SparkSession, d: String, minSupport: Long = 2L,
      hops: Int = 3, nSeeds: Int = 3): DataFrame = {
    val adj = symAdj(s, d, minSupport) // session-shared cached stage
    val (nodesDf, nN) = graphNodes(s, d, minSupport)
    if (!nodesFitBroadcast(s, nN)) {
      val seeds = nodesDf.orderBy(col("n")).limit(nSeeds)
      return bfsLayers(adj, seeds, hops)
        .groupBy(col("hop")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("hop"))
    }
    // Localized frontier (see nodesFitBroadcast): the frontier and
    // visited sets are node-bounded and were already broadcast per hop
    // — collecting the expansion's distinct targets moves the same
    // bytes, drops the per-hop localCheckpoint job, and makes the
    // visited-set anti-join a local set filter. The hop expansion
    // (edge-sized) stays a distributed broadcast-probe of the cached
    // adjacency. Recurrence identical to bfsLayers: distinct targets of
    // the frontier minus visited, at each node's MINIMUM hop.
    import s.implicits._
    val seeds = nodesDf.orderBy(col("n")).limit(nSeeds).as[Long].collect()
    var visited = seeds.toSet
    var frontier: Array[Long] = seeds
    val counts = scala.collection.mutable.ArrayBuffer((0, frontier.length.toLong))
    (1 to hops).foreach { h =>
      if (frontier.nonEmpty) {
        val fdf = broadcast(frontier.toSeq.toDF("n"))
        val nxt = adj.join(fdf, adj("s") === fdf("n"))
          .select(col("t")).distinct()
          .as[Long].collect().filterNot(visited)
        visited ++= nxt
        frontier = nxt
        if (nxt.nonEmpty) counts += ((h, nxt.length.toLong))
      }
    }
    counts.toSeq.toDF("hop", "n_nodes").orderBy(col("hop"))
  }

  /** Min-hop BFS layers (n, hop) from `seeds` over directed adjacency
    * (s, t), hop ≤ `hops`. See [[bfsReach]] for the plan shape.
    */
  private[graft] def bfsLayers(adj: DataFrame, seeds: DataFrame,
      hops: Int): DataFrame = {
    // Each hop's frontier is localCheckpoint()ed: the hop-h node set
    // is referenced by the hop-h+1 expansion, every later anti-join,
    // AND the final rollup — without truncation the logical plan tree
    // doubles per hop and Catalyst planning time, not the data,
    // becomes the bottleneck (the Pregel superstep checkpoint,
    // exactly like GraphX; a cluster run with executor churn uses
    // checkpoint() to reliable storage).
    var layers = seeds.withColumn("hop", lit(0)).localCheckpoint()
    var frontier = layers.select(col("n"))
    (1 to hops).foreach { h =>
      // frontier and visited-set are broadcast: a seed-bounded BFS's
      // working sets are the reachable neighborhood, dwarfed by the
      // (cached, never re-shuffled) adjacency — the hop is a map-side
      // probe of the graph, not a sort-merge of it
      val next =
        adj.join(broadcast(frontier), adj("s") === frontier("n"))
          .select(col("t").as("n")).distinct()
          .join(broadcast(layers.select(col("n"))), Seq("n"), "left_anti")
          .withColumn("hop", lit(h))
          .localCheckpoint()
      layers = layers.unionAll(next)
      frontier = next.select(col("n"))
    }
    layers
  }

  /** q174: market-basket association rules over the part co-purchase
    * incidence — support / confidence / lift for directed rules u→v
    * with pair support ≥ 2, top 10 by (lift, confidence) with total
    * (u, v) tie-break. The classic "customers who bought X also
    * bought Y" mining pass, sharing q126's basket-bounded pair build.
    *
    * Every metric is a ratio of exact integer counts assembled in one
    * double expression (identical on both engines); no float
    * accumulation.
    *
    * Scale shape: pair expansion is bounded by basket width (≤ 21
    * pairs/order at TPC-H line counts); pair and item counts are
    * map-side-combinable keyed aggs; item counts and the 1-row order
    * total broadcast onto the pair table (the q147/q149 allowed
    * scalar-BNLJ shape); final top-10 is TakeOrderedAndProject — no
    * global sort, nothing driver-side.
    */
  def assocRules(s: SparkSession, d: String,
      minSupport: Long = 2L, topK: Int = 10): DataFrame = {
    // the cached incidence feeds the order total and the item counts;
    // the pair aggregation itself is the family-shared pairCounts
    // stage (one basket self-join per session, not one per consumer)
    val inc = incidence(s, d)
    val nOrders = inc.select(countDistinct(col("o")).as("n_orders"))
    val item = inc.groupBy(col("p")).agg(count(lit(1)).as("cp"))
    val pairs = pairCounts(s, d)
      .filter(col("cuv") >= minSupport)
    val directed = pairs.select(col("u"), col("v"), col("cuv"))
      .unionAll(pairs.select(col("v").as("u"), col("u").as("v"), col("cuv")))
    directed
      .join(broadcast(item.select(col("p").as("u"), col("cp").as("cu"))),
        Seq("u"))
      .join(broadcast(item.select(col("p").as("v"), col("cp").as("cv"))),
        Seq("v"))
      .crossJoin(broadcast(nOrders))
      .select(col("u"), col("v"), col("cuv"),
        round(col("cuv").cast("double") / col("n_orders").cast("double"), 6)
          .as("support"),
        round(col("cuv").cast("double") / col("cu").cast("double"), 6)
          .as("confidence"),
        round(col("cuv").cast("double") * col("n_orders").cast("double")
          / (col("cu").cast("double") * col("cv").cast("double")), 6)
          .as("lift"))
      .orderBy(col("lift").desc, col("confidence").desc, col("u"), col("v"))
      .limit(topK)
  }

  /** q220: degree assortativity of the co-purchase graph — the Pearson
    * correlation of endpoint degrees over the (symmetrized) edge list.
    * Positive r: hubs link to hubs (social-network-like); negative:
    * hubs link to leaves (technological/dependency-like). The one
    * scalar that summarizes whether the dup/co-occurrence graph has
    * hub-and-spoke or community structure — it decides whether salting
    * or star-alternation is the right CC strategy downstream.
    *
    * Determinism: degrees are exact integers; all five moments are
    * exact (DECIMAL(19,0) values, DECIMAL(38,0) products — the
    * q178/q199 convention); r leaves the exact domain only in the
    * final double assembly, identical on both engines.
    *
    * Scale shape: the edge build is the bounded basket self-join every
    * graph query here shares; then one degree aggregation, two
    * broadcast-able degree joins (degree table = node catalog ≪
    * edges; AQE falls back to shuffled joins past the threshold), and
    * ONE corpus-wide moment aggregation to a single row. Nothing
    * quadratic, no iteration.
    */
  def assortativity(s: SparkSession, d: String, minSupport: Long = 2L): DataFrame = {
    val Dec19 = org.apache.spark.sql.types.DataTypes.createDecimalType(19, 0)
    val adj = symAdj(s, d, minSupport) // session-shared cached stage
    val deg = adj.groupBy(col("s").as("n")).agg(count(lit(1)).as("deg"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    val xy = adj
      .join(deg.select(col("n").as("s"), col("deg").as("x")), Seq("s"))
      .join(deg.select(col("n").as("t"), col("deg").as("y")), Seq("t"))
      .select(col("x").cast(Dec19).as("x"), col("y").cast(Dec19).as("y"))
    val m = xy.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val nD = col("n").cast("double")
    val r = (nD * col("sxy").cast("double")
      - col("sx").cast("double") * col("sy").cast("double")) /
      sqrt((nD * col("sxx").cast("double")
        - col("sx").cast("double") * col("sx").cast("double")) *
        (nD * col("syy").cast("double")
          - col("sy").cast("double") * col("sy").cast("double")))
    m.crossJoin(broadcast(nodes))
      .select(col("n_nodes"), (col("n") / 2).cast("long").as("n_edges"),
        round(r, 6).as("assortativity"))
  }

  /** q227: k-core extraction (k=3) by iterative peeling — nodes with
    * in-subgraph degree < k are removed until the remainder is the
    * 3-core, the standard "dense kernel" cut (spam/community cores;
    * for dedup graphs, the clusters that survive aggressive
    * pruning). Runs a FIXED 8 peel rounds on both engines — the gate
    * pins bounded-round semantics, and GraphAuditSpec proves the
    * fixture reaches the fixpoint by round 7, so the result IS the
    * true 3-core here. A production run loops to fixpoint with the
    * same per-round shape plus a convergence witness (the q150
    * discipline); peel rounds needed are bounded by the degeneracy
    * ordering depth, ≪ |V|.
    *
    * Scale shape: per round, TWO semi-join-shaped joins of the cached
    * adjacency against the (shrinking) alive set and one keyed count
    * — all equi-joins; the alive set only shrinks, and
    * localCheckpoint truncates the per-round lineage exactly as
    * q130/q150 do.
    */
  def kCore(s: SparkSession, d: String, k: Int = 3, rounds: Int = 8,
      minSupport: Long = 2L): DataFrame = {
    // session-shared cached adjacency — probed TWICE per peel round
    val adj = symAdj(s, d, minSupport)
    val (_, nN) = graphNodes(s, d, minSupport)
    // alive only SHRINKS round to round (removing nodes can only lower
    // in-subgraph degrees), so equal consecutive counts ⇒ equal sets ⇒
    // every remaining round is the identity: early-exit produces the
    // bit-identical result the bounded-round oracle computes, minus the
    // dead rounds (measured 1.86 s → the fixture converges in 2-3).
    if (!nodesFitBroadcast(s, nN)) {
      var alive = adj.select(col("s").as("n")).distinct()
      var deg: DataFrame = null
      var prevCount = -1L
      var r = 0
      while (r < rounds) {
        deg = adj
          .join(alive.select(col("n").as("s")), Seq("s"))
          .join(alive.select(col("n").as("t")), Seq("t"))
          .groupBy(col("s")).agg(count(lit(1)).as("deg"))
        alive = deg.filter(col("deg") >= k).select(col("s").as("n"))
          .localCheckpoint()
        val c = alive.count()
        if (c == prevCount) r = rounds else { prevCount = c; r += 1 }
      }
      return deg.filter(col("deg") >= k)
        .select(col("s").as("p_key"), col("deg"))
        .orderBy(col("p_key"))
    }
    // Localized alive set (see nodesFitBroadcast): the shrinking alive
    // set is node-bounded and was broadcast into both semi-joins every
    // round anyway — collecting the round's degree table (≤ node-sized)
    // replaces the localCheckpoint materialization AND the convergence
    // count with the one aggregation job the round already runs. The
    // degree count over the adjacency (edge-sized) stays distributed;
    // recurrence and early-exit rule identical to the distributed form.
    import s.implicits._
    var alive: Array[Long] = null // null = all nodes (round 1)
    var deg: Array[(Long, Long)] = null
    var prevCount = -1L
    var r = 0
    while (r < rounds) {
      val base = if (alive == null) adj else {
        val sa = broadcast(alive.toSeq.toDF("sn"))
        val ta = broadcast(alive.toSeq.toDF("tn"))
        adj.join(sa, adj("s") === sa("sn"))
          .join(ta, adj("t") === ta("tn"))
      }
      deg = base.groupBy(col("s")).agg(count(lit(1)).as("deg"))
        .as[(Long, Long)].collect()
      alive = deg.filter(_._2 >= k).map(_._1)
      if (alive.length == prevCount) r = rounds
      else { prevCount = alive.length; r += 1 }
    }
    deg.filter(_._2 >= k).sortBy(_._1).toSeq.toDF("p_key", "deg")
  }

  /** Mechanically generated bounded-round peel oracle for q227 — the
    * identical recurrence as SQL CTEs, so both engines provably run
    * the same 8 rounds. Every alive-set CTE is MATERIALIZED: each
    * a$i is referenced TWICE by the next round's degree join, and
    * DuckDB inlines non-materialized CTEs per reference — 2^rounds
    * recomputation that exhausts temp space at sf0.1 (the q200
    * oracle's lesson, reapplied).
    */
  private[graft] def kcoreOracle(k: Int, rounds: Int): String = {
    val base =
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |            FROM lineitem),
        |e AS MATERIALIZED (SELECT a.p AS u, b.p AS v FROM li a
        |      JOIN li b ON a.o = b.o AND a.p < b.p
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS MATERIALIZED (SELECT u AS s, v AS t FROM e
        |      UNION ALL SELECT v, u FROM e),
        |a0 AS MATERIALIZED (SELECT DISTINCT s AS n FROM adj)""".stripMargin
    val iterCtes = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT adj.s, CAST(count(*) AS BIGINT) AS deg FROM adj
         |  JOIN a${i - 1} x ON adj.s = x.n JOIN a${i - 1} y ON adj.t = y.n
         |  GROUP BY 1),
         |a$i AS MATERIALIZED (SELECT s AS n FROM d$i WHERE deg >= $k)""".stripMargin
    }
    base + ",\n" + iterCtes.mkString(",\n") +
      s"\nSELECT s AS p_key, deg FROM d$rounds WHERE deg >= $k ORDER BY p_key"
  }

  /** q268: synchronous LABEL PROPAGATION (Raghavan et al. 2007) over
    * the co-purchase graph — community detection by iterated neighbor
    * majority, the cheap complement to connected components (q51
    * merges everything reachable; LPA splits dense regions into
    * communities). Fully deterministic: every node starts labeled
    * with its own id, and each round every node adopts the most
    * frequent label among its NEIGHBORS (its own label excluded),
    * ties broken toward the SMALLEST label — integer argmax via
    * max_by(label, (count, −label)), the q52 assignment discipline.
    * Four synchronous rounds, the oracle unrolled from the same
    * recurrence by a Scala helper (q130's convention).
    *
    * Scale shape: per round, ONE shuffle — adjacency ⋈ labels on the
    * neighbor key, then a (node, label)-keyed count and a node-keyed
    * argmax; the label table is 16 B/row. localCheckpoint truncates
    * the iterate's lineage (the q130 Pregel lesson).
    */
  def labelPropagation(s: SparkSession, d: String, minSupport: Long = 2L,
      iters: Int = 4): DataFrame = {
    val adj = symAdj(s, d, minSupport) // session-shared cached stage
    val (nodesDf, nN) = graphNodes(s, d, minSupport)
    if (!nodesFitBroadcast(s, nN)) {
      var labels = nodesDf.withColumn("lb", col("n"))
      (1 to iters).foreach { _ =>
        labels = adj.join(labels, adj("t") === labels("n"))
          .groupBy(col("s"), col("lb")).agg(count(lit(1)).as("c"))
          .groupBy(col("s"))
          .agg(max_by(col("lb"),
            struct(col("c"), (-col("lb")).as("neg"))).as("lb"))
          .select(col("s").as("n"), col("lb"))
          .localCheckpoint()
      }
      val sizes = labels.groupBy(col("lb")).agg(count(lit(1)).as("community_size"))
      return labels.join(sizes, Seq("lb"))
        .select(col("n").as("p_key"), col("lb").as("community"),
          col("community_size"))
        .orderBy(col("p_key"))
    }
    // Localized label table (see nodesFitBroadcast): node-sized, was
    // joined (and localCheckpoint()ed) per round — collect the round's
    // argmax output instead; the (node, label)-keyed count + max_by
    // argmax (the edge-sized work, SAME expressions incl. the tie rule)
    // stays distributed, so labels are bit-identical round by round.
    import s.implicits._
    var labels: Array[(Long, Long)] =
      nodesDf.as[Long].collect().sorted.map(n => (n, n))
    (1 to iters).foreach { _ =>
      val ldf = broadcast(labels.toSeq.toDF("n", "lb"))
      labels = adj.join(ldf, adj("t") === ldf("n"))
        .groupBy(col("s"), col("lb")).agg(count(lit(1)).as("c"))
        .groupBy(col("s"))
        .agg(max_by(col("lb"),
          struct(col("c"), (-col("lb")).as("neg"))).as("lb"))
        .as[(Long, Long)].collect()
    }
    val sizes = labels.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    labels.toSeq.sortBy(_._1)
      .map { case (n, lb) => (n, lb, sizes(lb)) }
      .toDF("p_key", "community", "community_size")
  }

  /** One unrolled LPA round (the SQL provably matches the Scala
    * recurrence — generated from the same structure).
    */
  private def lpaRoundCte(t: Int): String =
    s"""g$t AS (SELECT adj.s, l${t - 1}.lb, CAST(count(*) AS BIGINT) AS c
       |       FROM adj JOIN l${t - 1} ON adj.t = l${t - 1}.n GROUP BY 1, 2),
       |l$t AS (SELECT s AS n, lb FROM (
       |         SELECT s, lb, row_number() OVER (PARTITION BY s
       |             ORDER BY c DESC, lb) AS rn
       |         FROM g$t) WHERE rn = 1)""".stripMargin

  private def lpaSql(iters: Int): String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS (SELECT a.p AS u, b.p AS v FROM li a
       |      JOIN li b ON a.o = b.o AND a.p < b.p
       |      GROUP BY 1, 2 HAVING count(*) >= 2),
       |adj AS (SELECT u AS s, v AS t FROM e UNION ALL SELECT v, u FROM e),
       |l0 AS (SELECT DISTINCT s AS n, s AS lb FROM adj),
       |${(1 to iters).map(lpaRoundCte).mkString(",\n")}
       |SELECT n AS p_key, lb AS community,
       |  CAST(count(*) OVER (PARTITION BY lb) AS BIGINT) AS community_size
       |FROM l$iters
       |ORDER BY p_key""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q268_label_propagation" ->
      ((s: SparkSession, d: String) => labelPropagation(s, d)),
    "q227_kcore" -> ((s: SparkSession, d: String) => kCore(s, d)),
    "q220_assortativity" -> ((s: SparkSession, d: String) => assortativity(s, d)),
    "q174_assoc_rules" -> ((s: SparkSession, d: String) => assocRules(s, d)),
    "q126_triangles" -> ((s: SparkSession, d: String) => triangleParts(s, d)),
    "q130_pagerank"  -> ((s: SparkSession, d: String) => pageRank(s, d)),
    "q133_bfs_reach" -> ((s: SparkSession, d: String) => bfsReach(s, d)),
  )

  val oracleSql: Map[String, String] = Map(
    "q268_label_propagation" -> lpaSql(4),
    "q227_kcore" -> kcoreOracle(3, 8),
    "q220_assortativity" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |            FROM lineitem),
        |e AS (SELECT a.p AS u, b.p AS v FROM li a
        |      JOIN li b ON a.o = b.o AND a.p < b.p
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT u AS s, v AS t FROM e UNION ALL SELECT v, u FROM e),
        |deg AS (SELECT s AS n, CAST(count(*) AS BIGINT) AS deg
        |        FROM adj GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg),
        |xy AS (SELECT CAST(ds.deg AS DECIMAL(19,0)) AS x,
        |              CAST(dt.deg AS DECIMAL(19,0)) AS y
        |       FROM adj JOIN deg ds ON ds.n = adj.s
        |                JOIN deg dt ON dt.n = adj.t),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(x) AS DECIMAL(38,0)) AS sx,
        |        CAST(sum(y) AS DECIMAL(38,0)) AS sy,
        |        CAST(sum(x * y) AS DECIMAL(38,0)) AS sxy,
        |        CAST(sum(x * x) AS DECIMAL(38,0)) AS sxx,
        |        CAST(sum(y * y) AS DECIMAL(38,0)) AS syy
        |      FROM xy)
        |SELECT nn.n_nodes, CAST(m.n // 2 AS BIGINT) AS n_edges,
        |  round((CAST(m.n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / sqrt((CAST(m.n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * (CAST(m.n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
        |    AS assortativity
        |FROM m CROSS JOIN nn""".stripMargin,
    "q174_assoc_rules" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |            FROM lineitem),
        |n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM li),
        |item AS (SELECT p, CAST(count(*) AS BIGINT) AS cp FROM li GROUP BY 1),
        |pairs AS (
        |  SELECT a.p AS u, b.p AS v, CAST(count(*) AS BIGINT) AS cuv
        |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |directed AS (
        |  SELECT u, v, cuv FROM pairs
        |  UNION ALL
        |  SELECT v AS u, u AS v, cuv FROM pairs)
        |SELECT d.u, d.v, d.cuv,
        |  round(CAST(d.cuv AS DOUBLE) / CAST(n.n_orders AS DOUBLE), 6)
        |    AS support,
        |  round(CAST(d.cuv AS DOUBLE) / CAST(iu.cp AS DOUBLE), 6)
        |    AS confidence,
        |  round(CAST(d.cuv AS DOUBLE) * CAST(n.n_orders AS DOUBLE)
        |    / (CAST(iu.cp AS DOUBLE) * CAST(iv.cp AS DOUBLE)), 6) AS lift
        |FROM directed d
        |JOIN item iu ON iu.p = d.u
        |JOIN item iv ON iv.p = d.v
        |CROSS JOIN n
        |ORDER BY lift DESC, confidence DESC, u, v
        |LIMIT 10""".stripMargin,
    "q130_pagerank" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT a.p AS u, b.p AS v FROM li a
        |      JOIN li b ON a.o = b.o AND a.p < b.p
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT u AS s, v AS t FROM e UNION ALL SELECT v, u FROM e),
        |deg AS (SELECT s AS n, count(*) AS deg FROM adj GROUP BY 1),
        |a AS (SELECT adj.s, adj.t, deg.deg FROM adj JOIN deg ON adj.s = deg.n),
        |sz AS (SELECT count(*) AS nn FROM deg),
        |r0 AS (SELECT n, 1000000000000 // nn AS r FROM deg CROSS JOIN sz),
        |c1 AS (SELECT a.t, CAST(sum(r0.r // a.deg) AS BIGINT) AS cs
        |       FROM a JOIN r0 ON a.s = r0.n GROUP BY 1),
        |r1 AS (SELECT deg.n, (150000000000 // nn) + 85 * COALESCE(c1.cs, 0) // 100 AS r
        |       FROM deg CROSS JOIN sz LEFT JOIN c1 ON deg.n = c1.t),
        |c2 AS (SELECT a.t, CAST(sum(r1.r // a.deg) AS BIGINT) AS cs
        |       FROM a JOIN r1 ON a.s = r1.n GROUP BY 1),
        |r2 AS (SELECT deg.n, (150000000000 // nn) + 85 * COALESCE(c2.cs, 0) // 100 AS r
        |       FROM deg CROSS JOIN sz LEFT JOIN c2 ON deg.n = c2.t),
        |c3 AS (SELECT a.t, CAST(sum(r2.r // a.deg) AS BIGINT) AS cs
        |       FROM a JOIN r2 ON a.s = r2.n GROUP BY 1),
        |r3 AS (SELECT deg.n, (150000000000 // nn) + 85 * COALESCE(c3.cs, 0) // 100 AS r
        |       FROM deg CROSS JOIN sz LEFT JOIN c3 ON deg.n = c3.t)
        |SELECT n AS p_key, r AS rank_e12 FROM r3
        |ORDER BY rank_e12 DESC, p_key
        |LIMIT 10""".stripMargin,
    "q133_bfs_reach" ->
      """WITH RECURSIVE li AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT a.p AS u, b.p AS v FROM li a
        |      JOIN li b ON a.o = b.o AND a.p < b.p
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT u AS s, v AS t FROM e UNION ALL SELECT v, u FROM e),
        |seeds AS (SELECT DISTINCT s AS n FROM adj ORDER BY n LIMIT 3),
        |bfs AS (
        |  SELECT n, 0 AS hop FROM seeds
        |  UNION ALL
        |  SELECT a.t AS n, bfs.hop + 1 AS hop
        |  FROM bfs JOIN adj a ON a.s = bfs.n WHERE bfs.hop < 3),
        |m AS (SELECT n, min(hop) AS hop FROM bfs GROUP BY n)
        |SELECT hop, count(*) AS n_nodes FROM m
        |GROUP BY hop
        |ORDER BY hop""".stripMargin,
    "q126_triangles" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT a.p AS u, b.p AS v FROM li a
        |      JOIN li b ON a.o = b.o AND a.p < b.p
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT n, count(*) AS deg FROM (
        |          SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |o AS (SELECT CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.u ELSE e.v END AS s,
        |             CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.v ELSE e.u END AS t,
        |             CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN dv.deg ELSE du.deg END AS dt
        |      FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
        |tri AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c
        |        FROM o e1 JOIN o e2 ON e1.s = e2.s
        |          AND (e1.dt, e1.t) < (e2.dt, e2.t)
        |        WHERE EXISTS (SELECT 1 FROM o e3
        |                      WHERE e3.s = e1.t AND e3.t = e2.t)),
        |n AS (SELECT unnest([a, b, c]) AS p_key FROM tri)
        |SELECT p_key, count(*) AS n_triangles
        |FROM n GROUP BY 1
        |ORDER BY n_triangles DESC, p_key
        |LIMIT 10""".stripMargin,
  )
}
