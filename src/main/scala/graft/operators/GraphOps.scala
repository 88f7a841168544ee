package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Iterative graph scoring: PageRank over the customer↔supplier bipartite
  * graph induced by lineitem (an edge when a customer's order shipped a
  * supplier's part). Complements the pointer-jumping connected components
  * in [[DedupPipeline]] — CC answers "which nodes form one entity",
  * PageRank answers "which nodes matter", the importance prior used for
  * crawl-frontier ordering and seed weighting in corpus curation.
  *
  * Scale shape: each iteration is edges⋈ranks (shuffle on src) then a
  * partial-aggregated groupBy(dst) — two bounded shuffles per iteration,
  * nothing driver-side. The degree-annotated edge list is built ONCE and
  * localCheckpointed; at 100 TB it would be written hash-partitioned by
  * src so every iteration reuses the partitioning (shuffle only on the
  * rank side, |nodes| rows ≪ |edges|). Dangling nodes cannot arise: edges
  * are materialized in both directions, so every node has out-degree ≥ 1.
  *
  * Cross-engine determinism (DuckDB oracle unrolls the same 3 iterations):
  * ranks live in INTEGER nano-space — parts-per-billion as BIGINT — so the
  * per-node sum of contributions is exact integer addition,
  * partition-order-independent. The only float ops are one division and
  * one multiply-add per row, each immediately rounded at SCALE 0, where
  * `round` needs no ×10^k rescale: DuckDB's fractional `round(x, 9)`
  * rescales in the float domain and manufactures .5 ties Spark's
  * decimal-string rounding does not see (observed: 20/50 rows off by 1 in
  * the 9th decimal) — at scale 0 both engines see the same value and both
  * round half away from zero.
  */
object GraphOps {

  val Damping = 0.85
  val Iterations = 3
  val TopN = 50
  val Nano = 1000000000L // 1e9: rank unit = parts-per-billion

  /** Distinct customer↔supplier edges, both directions. Node ids are packed
    * longs in the hot path — `2k` for customer k, `2k+1` for supplier k, so
    * the key spaces cannot collide and the distinct/shuffle/checkpoint all
    * move 8-byte keys instead of `c…`/`s…` strings (the strings cost ~2×
    * on the edge materialization; reproduce with tools/Probe). [[label]]
    * renders the public `c…`/`s…` form in final projections only.
    */
  def edges(s: SparkSession, d: String): DataFrame = {
    val pairs = custSuppPairs(s, d)
    pairs.select(col("cust").as("src"), col("supp").as("dst"))
      .union(pairs.select(col("supp").as("src"), col("cust").as("dst")))
  }

  /** The distinct customer–supplier incidence underlying [[edges]], one
    * row per (customer, supplier) relationship, ids packed as in [[edges]]. */
  private def custSuppPairs(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(
        (col("o_custkey").cast("long") * 2).as("cust"),
        (col("l_suppkey").cast("long") * 2 + 1).as("supp"))
      .distinct()

  /** Public node label for a packed id: `c<k>` / `s<k>`. `shiftright` is
    * exact integer halving for both parities (Column `/` would widen to
    * double and render `7.0`). */
  def label(node: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(node % 2 === 0, concat(lit("c"), shiftright(node, 1).cast("string")))
      .otherwise(concat(lit("s"), shiftright(node, 1).cast("string")))

  /** 3-iteration PageRank, top-[[TopN]] nodes by (rank desc, node). Ranks
    * are BIGINT parts-per-billion (`rank_ppb`); Σ rank_ppb ≈ 10^9.
    */
  def pagerank(s: SparkSession, d: String): DataFrame = {
    val e = edges(s, d)
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // the degree and rank sides are NODE-sized (≪ edges): broadcast them so
    // the edge list never shuffles — each iteration is then one broadcast
    // join + one partial-aggregated groupBy(dst). At node counts beyond
    // broadcast reach, drop the hints and hash-partition eDeg by src once,
    // reusing that partitioning every iteration (see scaladoc).
    val eDeg = e.join(broadcast(deg), "src").localCheckpoint(true)

    val nodes = eDeg.select(col("src").as("node")).distinct()
    val nstats = nodes.agg(count(lit(1)).as("n"))

    var rank = nodes.crossJoin(broadcast(nstats))
      .select(col("node"),
        round(lit(Nano).cast("double") / col("n")).cast("long").as("rank_ppb"))
    for (_ <- 1 to Iterations) {
      rank = eDeg.join(broadcast(rank), eDeg("src") === rank("node"))
        .select(col("dst"),
          round(col("rank_ppb").cast("double") / col("outdeg")).cast("long").as("contrib"))
        .groupBy("dst").agg(sum("contrib").as("in_sum"))
        .crossJoin(broadcast(nstats))
        .select(col("dst").as("node"),
          round(lit(0.15) * lit(Nano).cast("double") / col("n") +
            lit(Damping) * col("in_sum").cast("double")).cast("long").as("rank_ppb"))
    }
    rank.select(label(col("node")).as("node"), col("rank_ppb"))
      .orderBy(col("rank_ppb").desc, col("node")).limit(TopN)
  }

  /** Synchronous label-propagation communities (Raghavan et al. 2007) over
    * the same customer↔supplier graph — CC answers "which nodes touch",
    * PageRank "which matter", LPA "which CLUSTER": densely-interlinked
    * customer/supplier groups adopt one label, the market-segmentation
    * view. Made fully deterministic (vanilla LPA is tie-order-dependent):
    * updates are synchronous, every node adopts the incoming label with
    * the highest count and ties resolve to the SMALLEST packed id — a
    * total order both engines replay exactly, so a fixed
    * [[LpaIterations]]-round run is oracle-able, convergence not required.
    *
    * Scale shape per round — identical to [[pagerank]]'s: one broadcast
    * join of the node-sized label frame into the checkpointed edge list,
    * then two partial-aggregable group-bys ((dst,lbl) counts, then the
    * per-dst argmax via `max(struct(cnt, -lbl))` — no window over data).
    * Beyond broadcast reach: hash-partition edges by src once and reuse.
    */
  val LpaIterations = 3

  /** The propagation loop on ANY symmetric (src, dst) edge frame — public
    * so specs pin the update rule on crafted graphs. Returns (node, lbl)
    * in the input's id space.
    */
  def lpaOver(e0: DataFrame, iters: Int = LpaIterations): DataFrame = {
    val e = e0.localCheckpoint(true)
    var lbl = e.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
    for (_ <- 1 to iters) {
      lbl = e.join(broadcast(lbl), e("src") === lbl("node"))
        .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("dst"))
        .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("dst").as("node"), (-col("m.nl")).as("lbl"))
    }
    lbl
  }

  def lpaCommunities(s: SparkSession, d: String): DataFrame =
    lpaOver(edges(s, d))
      .select(label(col("node")).as("node"), label(col("lbl")).as("community"))
      .orderBy("node")

  val lpaCommunitiesSql: String = {
    def iter(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT node, lbl FROM (
         |    SELECT e.dst AS node, l.lbl, count(*) AS c,
         |      row_number() OVER (PARTITION BY e.dst
         |        ORDER BY count(*) DESC, l.lbl ASC) AS rn
         |    FROM e JOIN $prev l ON e.src = l.node
         |    GROUP BY e.dst, l.lbl)
         |  WHERE rn = 1)""".stripMargin
    s"""WITH pairs AS (
       |  SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS cust,
       |         CAST(l_suppkey * 2 + 1 AS BIGINT) AS supp
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (
       |  SELECT cust AS src, supp AS dst FROM pairs
       |  UNION ALL SELECT supp, cust FROM pairs),
       |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e),
       |${iter("l0", "l1")},
       |${iter("l1", "l2")},
       |${iter("l2", "l3")}
       |SELECT CASE WHEN node % 2 = 0 THEN 'c' || (node // 2) ELSE 's' || (node // 2) END AS node,
       |       CASE WHEN lbl % 2 = 0 THEN 'c' || (lbl // 2) ELSE 's' || (lbl // 2) END AS community
       |FROM l3 ORDER BY node""".stripMargin
  }

  val pagerankSql: String = {
    // one iteration body, parameterized on the previous rank CTE
    def iter(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT e.dst AS node,
         |    CAST(round(CAST(0.15 AS DOUBLE) * $Nano / n.n + CAST(0.85 AS DOUBLE) *
         |      CAST(sum(CAST(round(CAST(r.rank_ppb AS DOUBLE) / e.outdeg) AS BIGINT)) AS DOUBLE))
         |      AS BIGINT) AS rank_ppb
         |  FROM ed e JOIN $prev r ON e.src = r.node CROSS JOIN nstats n
         |  GROUP BY e.dst, n.n)""".stripMargin
    s"""WITH pairs AS (
       |  SELECT DISTINCT 'c' || o_custkey AS cust, 's' || l_suppkey AS supp
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (
       |  SELECT cust AS src, supp AS dst FROM pairs
       |  UNION ALL
       |  SELECT supp AS src, cust AS dst FROM pairs),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY src),
       |ed AS (SELECT e.src, e.dst, d.outdeg FROM e JOIN deg d ON e.src = d.src),
       |nodes AS (SELECT DISTINCT src AS node FROM e),
       |nstats AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |r0 AS (
       |  SELECT node, CAST(round(CAST($Nano AS DOUBLE) / n.n) AS BIGINT) AS rank_ppb
       |  FROM nodes CROSS JOIN nstats n),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")}
       |SELECT node, rank_ppb FROM r3 ORDER BY rank_ppb DESC, node LIMIT $TopN""".stripMargin
  }

  /** Per-order part co-occurrence pairs, canonical `u < v`, one row per
    * (order, pair) — the shared prelude of [[coEdges]] (edge SET) and
    * [[graft.queries.AnalyticsQueries.gPairLift]] (pair COUNTS). The
    * (order, part) dedup up front keeps duplicate line items from
    * inflating either consumer; per-order expansion is bounded by the
    * order's line count (single digits), never all-pairs.
    */
  /** One row per order with its SORTED DISTINCT part set — the shared
    * base of [[orderPartPairs]] and [[graft.queries.AnalyticsQueries
    * .gPairLift]] (which also derives per-part frequencies and the order
    * count from it, so one scan + one shuffle feed all three).
    */
  private[graft] def partSets(s: SparkSession, d: String): DataFrame =
    // KEPT NARROW (r19, measured): tools/Probe's stage table shows the set
    // build and the downstream pair explode running 3-4 wide (scan splits /
    // AQE coalescing), so an explicit repartition(width, l_orderkey) was
    // A/B'd to widen both — and measured flat-to-WORSE on every consumer
    // (x_bfs_hops 3.74 -> 4.01 med, x_triangles ~2.9 -> 3.19,
    // g_pair_lift flat): the extra raw-row exchange + the lost map-side
    // collect_set combine cost exactly what the width bought. Same
    // lesson as the 64k coalescing-floor A/B (Sessions.scala).
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey").as("ok"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))

  /** The u < v pair expansion of a `(ok, ps)` part-set frame — a codegen'd
    * projection, per-order output bounded by the order's line count.
    */
  private[graft] def pairsOf(sets: DataFrame): DataFrame =
    sets
      .select(col("ok"), explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS u, y AS v))))")).as("p"))
      .select(col("ok"), col("p.u").as("u"), col("p.v").as("v"))

  def orderPartPairs(s: SparkSession, d: String): DataFrame = {
    // One groupBy instead of dedup + self-join: collect_set dedups the
    // (order, part) pairs map-side AND bounds state by the order's line
    // count (single digits — the blocking key's defining property), then
    // the sorted array expands to its u < v pairs in a codegen'd
    // projection. Replaces 3 shuffles (distinct, then re-shuffling both
    // self-join sides onto ok) with 1; measured 1.5× on x_triangles at
    // sf0.1.
    pairsOf(partSets(s, d))
  }

  /** Distinct part co-occurrence edges (two parts in the same order). */
  def coEdges(s: SparkSession, d: String): DataFrame =
    orderPartPairs(s, d).select("u", "v").distinct()

  /** Triangle count over the co-purchase graph via DEGREE ORIENTATION +
    * edge iteration — the standard scale-safe form: orient every edge
    * from its lower-(degree, id) endpoint, so out-degrees are O(√m) even
    * under power-law skew; then `Σ over oriented edges |N⁺(u) ∩ N⁺(v)|`
    * counts each triangle exactly once (the intersection finds every `w`
    * past both endpoints in the orientation order). The per-edge
    * intersection of two √m-bounded sorted lists replaces the Σ outdeg²
    * wedge materialization — measured 3.4× faster at sf0.1 (25M wedge
    * rows never exist).
    *
    * Plan: edges + degrees (node-sized, broadcast into the orientation),
    * one shuffle to build adjacency lists, two joins edge→adjacency (the
    * second side left-joined: a sink node has no out-list), a codegen'd
    * `array_intersect` per edge. Per-row memory is the O(√m) neighbor
    * list — never a hub's raw degree.
    */
  def triangles(s: SparkSession, d: String): DataFrame = {
    val e = coEdges(s, d).localCheckpoint() // reused: degrees, orientation, edge count
    val deg = e.select(col("u").as("x")).union(e.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("deg"))
    // orient by (deg, id): src = the strictly smaller endpoint in that order
    // deg is node-sized (dimension-table scale even at 100 TB edge counts)
    // — broadcast both lookups instead of shuffling the edge list twice
    val o = e
      .join(broadcast(deg.select(col("x").as("u"), col("deg").as("du"))), Seq("u"))
      .join(broadcast(deg.select(col("x").as("v"), col("deg").as("dv"))), Seq("v"))
      .select(
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("src"), col("v").as("dst")))
          .otherwise(struct(col("v").as("src"), col("u").as("dst")))
          .as("oe"))
      .select(col("oe.src").as("src"), col("oe.dst").as("dst"))
    val adj = o.groupBy("src").agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    val tri = o
      .join(adj.select(col("src"), col("nbrs").as("nu")), Seq("src"))
      .join(adj.select(col("src").as("dst"), col("nbrs").as("nv")), Seq("dst"), "left")
      .select(coalesce(size(array_intersect(col("nu"), col("nv"))), lit(0))
        .cast("long").as("c"))
    tri.agg(sum("c").as("n_triangles"))
      .crossJoin(e.agg(count(lit(1)).as("n_edges")))
      .select("n_edges", "n_triangles")
  }

  /** Oracle is the naive u<v<w triple join — orientation-independent, so
    * it pins the oriented plan's count exactly.
    */
  val trianglesSql: String =
    """WITH pe AS (SELECT DISTINCT l1.l_partkey AS u, l2.l_partkey AS v
      |            FROM lineitem l1 JOIN lineitem l2
      |              ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM pe) AS n_edges,
      |       CAST(count(*) AS BIGINT) AS n_triangles
      |FROM pe e1 JOIN pe e2 ON e2.u = e1.u AND e2.v > e1.v
      |           JOIN pe e3 ON e3.u = e1.v AND e3.v = e2.v""".stripMargin

  /** Multi-source BFS depth bound (graph diameter is tiny on a
    * co-purchase graph; 3 hops covers the reachable set).
    */
  val BfsMaxHop = 3

  /** Multi-source BFS over the part co-purchase graph: minimum hop
    * distance from the seed set (the size-50 parts) for every reachable
    * node, summarized per hop. The frontier-expansion loop is the
    * scale-canonical BFS on a dataflow engine (Pregel's shape): each
    * round is one join frontier⋈edges + a dedup + an anti-join against
    * the visited set — all shuffles on the node key, nothing
    * quadratic, and the iteration count is the hop bound, not data size.
    * Frontiers are localCheckpointed: round N's lineage would otherwise
    * nest N joins deep and re-execute every prior round (the same
    * truncation [[pagerank]] and the connected-components loop use; at
    * 100 TB the frontier would persist to a node-keyed table instead).
    *
    * The per-hop summary (count + node-id checksum) makes the result
    * node-set-exact while keeping output bounded by the hop count.
    */
  /** The frontier-expansion loop over arbitrary directed `(src, dst)`
    * edges and a `node` seed set; returns `(node, hop)` minimum
    * distances for nodes within `maxHop`.
    */
  def bfsHopsOver(edges: DataFrame, seeds: DataFrame, maxHop: Int = BfsMaxHop): DataFrame = {
    val e = edges.localCheckpoint(true)
    // only FRONTIERS are checkpointed: `visited` stays a shallow union of
    // already-materialized frontiers (one per hop), so no round pays a
    // second materialization of the whole visited set
    var visited = seeds.select("node").distinct()
      .withColumn("hop", lit(0)).localCheckpoint(true)
    var frontier = visited.select("node")
    var i = 1
    var exhausted = false
    while (i <= maxHop && !exhausted) {
      val next = frontier.join(e, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .localCheckpoint(true)
      if (next.isEmpty) exhausted = true // saturated: skip the dead rounds
      else {
        visited = visited.union(next.withColumn("hop", lit(i)))
        frontier = next
      }
      i += 1
    }
    visited
  }

  def bfsHops(s: SparkSession, d: String): DataFrame = {
    // DISTINCT edges (coEdges), restored in r19: the r18 raw-pairs form
    // justified skipping the edge-set dedup by a 0.3% duplicate rate, but
    // that rate is a property of THIS uniform synthetic data — parallel-
    // edge multiplicity for popular part pairs grows with order count, so
    // on a skewed co-purchase graph at the 100 TB target the frontier x
    // edges join would multiply by the per-pair order count BEFORE each
    // hop's distinct (guide §2.5 skew). One dedup shuffle, paid once into
    // the edge materialization that [[bfsHopsOver]] already does, is
    // amortized over every hop and bounds the walk input by the edge SET.
    val e = coEdges(s, d)
    val edges = e.select(col("u").as("src"), col("v").as("dst"))
      .union(e.select(col("v").as("src"), col("u").as("dst")))
    val seeds = Tables.part(s, d).filter(col("p_size") === 50)
      .select(col("p_partkey").as("node"))
    bfsHopsOver(edges, seeds)
      .groupBy("hop")
      .agg(count(lit(1)).as("n_nodes"), sum("node").as("node_checksum"))
      .orderBy("hop")
  }

  /** Oracle: bounded recursive CTE; `UNION` dedups (node, hop) states so
    * the walk table stays ≤ nodes × (maxHop + 1) rows, and the min-hop
    * fold collapses it to BFS distances.
    */
  val bfsHopsSql: String =
    s"""WITH RECURSIVE pe AS (
       |  SELECT DISTINCT l1.l_partkey AS u, l2.l_partkey AS v
       |  FROM lineitem l1 JOIN lineitem l2
       |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey),
       |e AS (SELECT u AS src, v AS dst FROM pe UNION ALL SELECT v, u FROM pe),
       |seeds AS (SELECT DISTINCT p_partkey AS node FROM part WHERE p_size = 50),
       |walk(node, hop) AS (
       |  SELECT node, 0 FROM seeds
       |  UNION
       |  SELECT e.dst, w.hop + 1 FROM walk w JOIN e ON w.node = e.src
       |  WHERE w.hop < $BfsMaxHop),
       |mh AS (SELECT node, min(hop) AS hop FROM walk GROUP BY 1)
       |SELECT hop, CAST(count(*) AS BIGINT) AS n_nodes,
       |  CAST(sum(node) AS BIGINT) AS node_checksum
       |FROM mh GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- k-core ------------------------------------------------------------

  /** Peeling-round cap. Fixpoint usually lands far earlier (the loop exits
    * the moment a round removes nothing); the oracle unrolls exactly this
    * many rounds, which is safe because post-fixpoint rounds are identity.
    */
  val KCoreRounds = 8

  /** The k-core (Seidman 1983, "Network structure and minimum degree"):
    * repeatedly delete every node with degree < k until none remains —
    * the standard dense-subgraph primitive (spam/collusion detection,
    * community cores, graph sparsification). K here is the graph's own
    * exact 75th-percentile degree (the same cumulated-histogram order
    * statistic the quartile cutovers use), so the query is scale-free:
    * it asks "the top-quartile-connected core" at any data size.
    *
    * Scale shape per round — the [[pagerank]] discipline: one
    * partial-aggregable degree count, a node-sized keep set, two
    * semi-joins of the edge list against it (broadcast-able at node ≪
    * edge scale), localCheckpoint so round N+1 does not replay rounds
    * 1..N. Driver traffic: one bounded count per round for the early
    * exit. Peeling is monotone (edge set only shrinks), so the loop is
    * guaranteed to terminate; the cap bounds worst-case rounds exactly
    * like [[BfsMaxHop]] bounds the walk.
    */
  def kCoreOver(e0: DataFrame, k: Long, rounds: Int = KCoreRounds): DataFrame = {
    var cur = e0.localCheckpoint(true)
    var r = 0
    var done = false
    while (r < rounds && !done) {
      // the degree table IS the round's node set (node-sized, checkpointed
      // once, feeds both counts) — deriving nNodes from last round's keep
      // count would overcount: a keep node whose surviving edges all
      // pointed at peeled nodes vanishes from `cur` after the semi-joins,
      // and the phantom node would cost one extra no-op round under the cap
      val deg = cur.groupBy("src").agg(count(lit(1)).as("d"))
        .localCheckpoint(true)
      // ONE pass over the checkpointed degree table answers both fixpoint
      // counts (was: two separate count() jobs per round), and `keep`
      // stays a lazy filter of it — the two semi-join broadcast builds
      // re-filter node-sized checkpointed rows, cheaper than a third
      // eager materialization job per round
      // coalesce: a fully-peeled (empty) degree table sums to NULL, and
      // the fixpoint read must see 0 == 0, not throw
      val st = deg.agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("d") >= k, 1L).otherwise(0L)), lit(0L)).as("kept"))
        .first()
      if (st.getLong(1) == st.getLong(0)) done = true // fixpoint: nothing peeled
      else {
        val keep = deg.filter(col("d") >= k).select("src")
        cur = cur.join(keep, Seq("src"), "left_semi")
          .join(keep.select(col("src").as("dst")), Seq("dst"), "left_semi")
          .localCheckpoint(true)
        r += 1
      }
    }
    cur.groupBy("src").agg(count(lit(1)).as("core_deg"))
  }

  /** Board query: the p75-degree core of the customer↔supplier graph,
    * nodes with their in-core degrees.
    */
  def kCore(s: SparkSession, d: String): DataFrame = {
    val e = edges(s, d).localCheckpoint(true)
    val deg0 = e.groupBy("src").agg(count(lit(1)).as("d"))
    // exact discrete p75 of the degree multiset — NDV(degree)-sized
    // histogram, one-row result (bounded collect, like the BPE winners)
    val k = graft.queries.AnalyticsQueries
      .globalCumHistogram(deg0.select("d"), "d")
      .withColumn("k75", expr("(3 * n + 3) div 4"))
      .agg(sum(when(col("k75").between(col("lo"), col("hi")), col("d"))).as("k"))
      .first().getLong(0)
    kCoreOver(e, k)
      .select(label(col("src")).as("node"), col("core_deg"))
      .orderBy(col("core_deg").desc, col("node"))
  }

  val kCoreSql: String = {
    def round(i: Int): String = {
      val prev = if (i == 1) "e_0" else s"e_${i - 1}"
      s"""keep_$i AS MATERIALIZED (
         |  SELECT src FROM (SELECT src, count(*) AS d FROM $prev GROUP BY src)
         |  CROSS JOIN kv WHERE d >= kv.k),
         |e_$i AS MATERIALIZED (
         |  SELECT t.src, t.dst FROM $prev t
         |  JOIN keep_$i a ON t.src = a.src
         |  JOIN keep_$i b ON t.dst = b.src)""".stripMargin
    }
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS cust,
       |         CAST(l_suppkey * 2 + 1 AS BIGINT) AS supp
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e_0 AS MATERIALIZED (
       |  SELECT cust AS src, supp AS dst FROM pairs
       |  UNION ALL SELECT supp, cust FROM pairs),
       |deg0 AS (SELECT src, count(*) AS d FROM e_0 GROUP BY src),
       |kv AS MATERIALIZED (
       |  SELECT d AS k FROM (
       |    SELECT d, row_number() OVER (ORDER BY d) AS rn, count(*) OVER () AS n
       |    FROM deg0)
       |  WHERE rn = (3 * n + 3) // 4),
       |${(1 to KCoreRounds).map(round).mkString(",\n")}
       |SELECT CASE WHEN src % 2 = 0 THEN 'c' || (src // 2)
       |            ELSE 's' || (src // 2) END AS node,
       |       CAST(count(*) AS BIGINT) AS core_deg
       |FROM e_$KCoreRounds GROUP BY src
       |ORDER BY core_deg DESC, node""".stripMargin
  }

  // ---- Adamic–Adar link prediction --------------------------------------

  /** Degree cap for the wedge side of [[adamicAdar]]. Inactive on the test
    * corpus (max customer degree 102 at sf0.1) — it exists as the
    * structural bound that keeps the wedge expansion Σ deg² from a hub
    * blow-up at 100 TB, and dropping capped hubs is principled here: AA's
    * 1/ln(deg) weight makes a huge hub's per-wedge contribution vanish
    * while its wedge COUNT explodes quadratically — the worst
    * cost-per-signal rows in the whole computation.
    */
  val AaMaxDeg = 128

  val AaTopK = 20

  /** Adamic–Adar link prediction (Adamic & Adar 2003) over the bipartite
    * customer–supplier graph: score a supplier pair by
    * Σ 1/ln(deg(c)) over their common customers — the classic
    * common-neighbor signal, wedged through the BOUNDED side of the
    * bipartite graph (customer degrees: median 38, max 102 at sf0.1;
    * supplier degrees run 518–679, so wedging through suppliers would cost
    * 13× the rows for customer-pair predictions nobody asked for).
    *
    * Scale shape: one distinct() for the incidence, a node-sized degree
    * table broadcast back, the wedge self-join on the customer key
    * (Σ deg² rows, deg capped by [[AaMaxDeg]]), then ONE partial-aggregable
    * groupBy(b, c) and a bounded TakeOrderedAndProject. No existing-edge
    * anti-join is needed: candidate pairs are same-side by construction,
    * and the bipartite graph has no same-side edges.
    *
    * Determinism: weights are integer micro-nats (`round(1e6/ln(deg))`, one
    * `ln` per DISTINCT DEGREE is the whole float surface); scores are exact
    * integer sums; the top-K total-orders on (score desc, b, c).
    */
  def adamicAdar(s: SparkSession, d: String): DataFrame = {
    val pairs = custSuppPairs(s, d).localCheckpoint(true) // degrees + wedge base
    // deg ≥ 2: a single-supplier customer spans no wedge (and ln(1) = 0)
    val w = pairs.groupBy("cust").agg(count(lit(1)).as("deg"))
      .filter(col("deg").between(2, AaMaxDeg))
      .select(col("cust"),
        round(lit(1e6) / log(col("deg").cast("double"))).cast("long").as("w_u"))
    // KEPT as the wedge self-join (r19, measured): rewriting this as
    // groupBy(cust) + sort_array(collect_list) + a codegen'd u < v
    // expansion — the orderPartPairs trick, one exchange instead of two —
    // A/B'd 1.7x SLOWER at sf0.1 (med 3.02 -> 5.13 s, min 2.65 -> 4.79):
    // collect_list forces ObjectHashAggregate + per-customer array sort
    // off the codegen path, while the self-join's two exchanges feed a
    // fully-codegen'd sort-merge join. Fewer shuffles lost to slower
    // per-row work (guide §1.2: algorithm first, but MEASURE).
    val nb = pairs.join(broadcast(w), Seq("cust"))
    nb.select(col("cust"), col("supp").as("b"), col("w_u"))
      .join(nb.select(col("cust"), col("supp").as("c")), Seq("cust"))
      .filter(col("b") < col("c"))
      .groupBy("b", "c")
      .agg(count(lit(1)).as("n_common"), sum("w_u").as("score_u"))
      .orderBy(col("score_u").desc, col("b"), col("c"))
      .limit(AaTopK)
      .select(label(col("b")).as("u"), label(col("c")).as("v"),
        col("n_common"), col("score_u"))
  }

  /** HITS hubs/authorities (Kleinberg 1999) over the bipartite
    * customer–supplier graph: 3 unrolled mutual-reinforcement rounds
    * (authority = Σ hub over in-edges, hub = Σ authority), reported as the
    * top-10 of each side in parts-per-million of the side's max.
    *
    * Exactness: iterations run UNNORMALIZED in exact integer space
    * (DECIMAL(38,0) sums — per-round scalar normalization only rescales,
    * so rankings and the final ppm are unchanged, and skipping it removes
    * every intermediate division). The single final division is the
    * pmod floor-div form ((x·1e6 − pmod)/mx), exact in both engines —
    * Spark's rounded DECIMAL division never runs on a non-multiple.
    *
    * Scale shape: each round is one edges⋈scores join (shuffle on the
    * node key) + a partial-aggregable groupBy — [[pagerank]]'s plan with
    * the sides alternating; score frames are node-sized; the max is a
    * 1-row broadcast stitch; output bounded by TakeOrderedAndProject.
    */
  def hits(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val e = custSuppPairs(s, d).localCheckpoint(true)
    var h = e.select(col("cust")).distinct()
      .withColumn("h", lit(1L).cast(dec))
    var a: DataFrame = h // placeholder; set in round 1
    // Checkpoint ONLY the final round's frames: intermediate a/h are each
    // consumed exactly once (by the next half-round), so materializing
    // them bought nothing but a per-half-round job — six eager jobs for
    // three iterations (pagerank and lpaOver already keep iteration
    // lineage lazy and checkpoint only reused frames). The final a and h
    // ARE multiply-consumed (max + top-10 each), so those two stay
    // materialized. Same stages run once either way; four fewer job
    // submissions (measured: 2.84 -> ~2.2 s at sf0.1).
    for (i <- 1 to Iterations) {
      val aNext = e.join(h, Seq("cust")).groupBy("supp")
        .agg(sum("h").cast(dec).as("a"))
      a = if (i == Iterations) aNext.localCheckpoint(true) else aNext
      val hNext = e.join(a, Seq("supp")).groupBy("cust")
        .agg(sum("a").cast(dec).as("h"))
      h = if (i == Iterations) hNext.localCheckpoint(true) else hNext
    }
    def top(df: DataFrame, c: String, kind: String,
        node: org.apache.spark.sql.Column): DataFrame = {
      val mx = df.agg(max(col(c)).as("mx"))
      val num = col(c) * lit(1000000L).cast(dec)
      df.crossJoin(broadcast(mx))
        .select(lit(kind).as("kind"), node.as("node"),
          ((num - pmod(num, col("mx"))) / col("mx")).cast("long").as("score_ppm"))
        .orderBy(col("score_ppm").desc, col("node"))
        .limit(10)
    }
    top(a, "a", "auth", label(col("supp")))
      .unionAll(top(h, "h", "hub", label(col("cust"))))
      .orderBy(col("kind"), col("score_ppm").desc, col("node"))
  }

  val hitsSql: String = {
    val rounds = (1 to Iterations).map { i =>
      s"""a_$i AS MATERIALIZED (
         |  SELECT supp, sum(h) AS a FROM pairs JOIN h_${i - 1} USING (cust) GROUP BY supp),
         |h_$i AS MATERIALIZED (
         |  SELECT cust, sum(a) AS h FROM pairs JOIN a_$i USING (supp) GROUP BY cust)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS cust,
       |         CAST(l_suppkey * 2 + 1 AS BIGINT) AS supp
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |h_0 AS (SELECT DISTINCT cust, CAST(1 AS HUGEINT) AS h FROM pairs),
       |$rounds,
       |ta AS (SELECT 'auth' AS kind, 's' || CAST(supp // 2 AS VARCHAR) AS node,
       |         CAST((a * 1000000) // (SELECT max(a) FROM a_$Iterations) AS BIGINT) AS score_ppm
       |       FROM a_$Iterations ORDER BY score_ppm DESC, node LIMIT 10),
       |th AS (SELECT 'hub' AS kind, 'c' || CAST(cust // 2 AS VARCHAR) AS node,
       |         CAST((h * 1000000) // (SELECT max(h) FROM h_$Iterations) AS BIGINT) AS score_ppm
       |       FROM h_$Iterations ORDER BY score_ppm DESC, node LIMIT 10)
       |SELECT * FROM (SELECT * FROM ta UNION ALL SELECT * FROM th)
       |ORDER BY kind, score_ppm DESC, node""".stripMargin
  }

  /** Degree assortativity of the bipartite incidence (Newman 2002): the
    * Pearson correlation between customer degree and supplier degree across
    * relationships — "do busy customers concentrate on busy suppliers"
    * (r > 0) or spread across the tail (r < 0). The one-number topology
    * summary read before trusting degree-based caps like
    * [[AaMaxDeg]].
    *
    * Exactness: degrees are exact integers, the five moment sums fold in
    * DECIMAL(38,0) (partial-aggregable, order-free) and cross the double
    * boundary once each; the final Pearson chain is the same fixed IEEE
    * expression tree in both engines ([[graft.queries.PipelineQueries.corrStats]]'s
    * discipline). Scale shape: two node-sized degree tables broadcast back
    * onto the edge list, ONE partial-agg pass, a 1-row result.
    */
  def assortativity(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val pairs = custSuppPairs(s, d).localCheckpoint(true)
    val dc = pairs.groupBy("cust").agg(count(lit(1)).cast(dec).as("dx"))
    val dsp = pairs.groupBy("supp").agg(count(lit(1)).cast(dec).as("dy"))
    pairs.join(broadcast(dc), Seq("cust")).join(broadcast(dsp), Seq("supp"))
      .agg(count(lit(1)).as("n_edges"),
        sum(col("dx")).cast("double").as("sx"),
        sum(col("dy")).cast("double").as("sy"),
        sum(col("dx") * col("dx")).cast("double").as("sxx"),
        sum(col("dy") * col("dy")).cast("double").as("syy"),
        sum(col("dx") * col("dy")).cast("double").as("sxy"))
      .select(col("n_edges"),
        // safeDiv, not a raw `/`: a zero-variance degree side (every
        // customer buying from exactly one supplier — a star corpus) zeroes
        // the denominator, and under ANSI that would DIVIDE_BY_ZERO-kill
        // the job; the oracle's x/0 is already NULL, so NULL is the
        // cross-engine value for "assortativity undefined". Found by
        // RandomizedGraphDifferentialSpec's star-component corpus.
        // Each sqrt argument is clamped at 0: n*sxx - sx*sx is nonnegative
        // in exact arithmetic but computed in doubles, and near-zero
        // variance with large moment magnitudes can round to a tiny
        // NEGATIVE — sqrt would produce NaN, which passes the =!= 0.0
        // guard (the NumOps NaN contract limit) and diverges from the
        // oracle exactly in the degenerate-variance regime the NULL
        // contract targets. The clamp lands a rounding-negative variance
        // on the guarded-zero path instead; mirrored in assortativitySql.
        graft.functions.NumOps.safeDiv(
          col("n_edges") * col("sxy") - col("sx") * col("sy"),
          sqrt(greatest(col("n_edges") * col("sxx") - col("sx") * col("sx"), lit(0.0))) *
            sqrt(greatest(col("n_edges") * col("syy") - col("sy") * col("sy"), lit(0.0))))
          .as("assortativity"))
  }

  val assortativitySql: String =
    """WITH pairs AS MATERIALIZED (
      |  SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS cust,
      |         CAST(l_suppkey * 2 + 1 AS BIGINT) AS supp
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |dc AS (SELECT cust, CAST(count(*) AS DECIMAL(38,0)) AS dx FROM pairs GROUP BY cust),
      |dsp AS (SELECT supp, CAST(count(*) AS DECIMAL(38,0)) AS dy FROM pairs GROUP BY supp),
      |m AS (SELECT count(*) AS n,
      |        CAST(CAST(sum(dx) AS VARCHAR) AS DOUBLE) AS sx,
      |        CAST(CAST(sum(dy) AS VARCHAR) AS DOUBLE) AS sy,
      |        CAST(CAST(sum(dx * dx) AS VARCHAR) AS DOUBLE) AS sxx,
      |        CAST(CAST(sum(dy * dy) AS VARCHAR) AS DOUBLE) AS syy,
      |        CAST(CAST(sum(dx * dy) AS VARCHAR) AS DOUBLE) AS sxy
      |      FROM pairs JOIN dc USING (cust) JOIN dsp USING (supp))
      |SELECT CAST(n AS BIGINT) AS n_edges,
      |  (n * sxy - sx * sy) /
      |    (sqrt(GREATEST(n * sxx - sx * sx, 0.0)) *
      |     sqrt(GREATEST(n * syy - sy * sy, 0.0))) + 0.0 AS assortativity
      |FROM m""".stripMargin

  val adamicAdarSql: String =
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS cust,
       |         CAST(l_suppkey * 2 + 1 AS BIGINT) AS supp
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |w AS (SELECT cust,
       |        CAST(round(1000000.0 / ln(CAST(deg AS DOUBLE))) AS BIGINT) AS w_u
       |      FROM (SELECT cust, count(*) AS deg FROM pairs GROUP BY cust)
       |      WHERE deg BETWEEN 2 AND $AaMaxDeg),
       |nb AS (SELECT p.cust, p.supp, w.w_u FROM pairs p JOIN w USING (cust))
       |SELECT 's' || CAST(a.supp // 2 AS VARCHAR) AS u,
       |       's' || CAST(b.supp // 2 AS VARCHAR) AS v,
       |       CAST(count(*) AS BIGINT) AS n_common,
       |       CAST(sum(a.w_u) AS BIGINT) AS score_u
       |FROM nb a JOIN nb b ON a.cust = b.cust AND a.supp < b.supp
       |GROUP BY a.supp, b.supp
       |ORDER BY score_u DESC, a.supp, b.supp LIMIT $AaTopK""".stripMargin
}
