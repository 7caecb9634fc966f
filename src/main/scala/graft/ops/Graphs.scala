package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.{Caches, Graph, Tables}
import H.{dec6Sum, dec6SumSql, q6, q6Sql}

/** SURVEY.md §2.12 — graph analytics over relationally-derived graphs.
  *
  * Three classic whole-graph computations expressed as iterative / self-join
  * DataFrame plans (the connected-components family in [[Llm]] covers the
  * fourth). All run on graphs DERIVED from the star schema — the common
  * production shape where the edge list is itself the output of a join, not
  * a stored table:
  *
  *  - the customer↔supplier TRANSACTION graph (who traded with whom), edges
  *    from `orders ⋈ lineitem`, made symmetric for PageRank;
  *  - the part CO-ORDER graph (parts bought in the same order — the
  *    market-basket co-occurrence graph) for triangle counting and label
  *    propagation communities.
  *
  * The plans themselves live in [[graft.api.Graph]] — these keys derive the
  * fixture edge lists, delegate, and pin the result under the oracle gate,
  * so the reusable builders and the gated keys cannot drift apart.
  *
  * EDGE ARTIFACT: every co-order consumer reads the session-persisted
  * bucketed artifact via [[coOrderArtifact]] (derived once per session
  * through the [[graft.api.Tables.tableOrDerive]] gate) instead of
  * re-deriving its edge list per key. The DuckDB oracles still re-derive
  * from raw parquet, so artifact == derivation is gated end-to-end on every
  * key, and `graph_edges_persist` keeps pricing the one-time construction.
  *
  * Float discipline (core.scala H + api/Graph scaladoc): per-iteration
  * PageRank contributions quantize to a 1e-6 grain IN DOUBLE SPACE
  * (`floor(q·1e6+0.5)/1e6`, identical IEEE ops both engines — a direct
  * double→DECIMAL cast rounds Spark's shortest-repr vs DuckDB's exact
  * binary and diverged on 29 weighted-fixture quotients in r8), then sum
  * as exact decimal (order-independent across both engines' aggregation
  * orders); the damping step `0.15 + 0.85·sum` is identical IEEE ops on
  * identical bits, so ranks emit RAW.
  */
object Graphs {

  /** Supplier node-id offset: customer keys and supplier keys overlap
    * numerically, so supplier nodes shift into a disjoint long range
    * (max custkey across all fixtures ≪ 1e9). Longs rather than tagged
    * strings keep the join keys codegen-friendly 8-byte comparisons.
    */
  private val SUPP_OFF = 1000000000L

  /** PageRank (5 damped iterations, d = 0.85) over the symmetric
    * customer↔supplier transaction graph — the graph-centrality quality
    * signal of web-corpus curation (a page's rank is a standard keep-weight
    * in pretraining pipelines), here exercised on the star schema's natural
    * bipartite graph. Delegates to [[graft.api.Graph.pagerank]]; the
    * weighted / until-convergence solver [[graft.api.Graph.pagerankUntil]]
    * shares its per-round arithmetic bit-for-bit under uniform weights, so
    * this oracled key gates both (ApiSpec pins the equality).
    *
    * Scale shape: the edge list and degree frame build once and persist via
    * `Caches` (read 5× each); every iteration is ONE src-keyed hash join
    * (rank ⋈ deg is node-grain, then edges ⋈ ranks co-partitions on the
    * same key) + ONE dst-keyed hash aggregate — the Pregel step as Catalyst
    * sees it. No windows, no driver-side state beyond the loop counter; the
    * 5-iteration unroll keeps plan depth bounded (the open-ended solver
    * localCheckpoints per round like the CC operator does). Dangling
    * nodes cannot exist: the graph is symmetric, so every node has outdeg
    * ≥ 1 and the damping constant absorbs the rest.
    */
  private val graphPagerank = Q(
    "graph_pagerank",
    (s, d) => {
      // artifact read (r12): the weighted transaction artifact's (u, v)
      // projection IS the distinct trading-pair set this key used to derive
      val e0 = txnArtifact(s, d)
        .select(col("u").as("src"), col("v").as("dst"))
      val edges =
        e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      Graph.pagerank(edges, iters = 5)
        .orderBy(col("rank").desc, col("node").asc)
    },
    Some {
      val iter = (1 to 5).map { i =>
        s"""r$i AS (SELECT e.dst AS node,
0.15::DOUBLE + 0.85::DOUBLE * CAST(sum(CAST(${Graph.q6Sql("r.rank / d.deg")} AS DECIMAL(28,6))) AS DOUBLE) AS rank
FROM edges e JOIN r${i - 1} r ON e.src = r.node JOIN deg d ON e.src = d.node
GROUP BY e.dst)"""
      }.mkString(",\n")
      s"""WITH e0 AS (SELECT DISTINCT o_custkey AS src, l_suppkey + $SUPP_OFF AS dst
FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
r0 AS (SELECT node, 1.0::DOUBLE AS rank FROM deg),
$iter
SELECT node, rank FROM r5 ORDER BY rank DESC, node ASC"""
    })

  /** WEIGHTED PageRank (5 rounds) over the customer↔supplier transaction
    * graph with TRANSACTION MULTIPLICITY as the edge weight — the signal
    * the unweighted key's `distinct()` discards: a customer-supplier pair
    * with 40 lineitems carries 40× the rank flow of a one-off trade. Runs
    * through [[graft.api.Graph.pagerankUntil]] (eps = 0 ⇒ exactly
    * maxIters = 5 rounds — deterministic, so the solver's WEIGHTED path
    * runs under the DuckDB gate; its uniform-weight path is gated by
    * ApiSpec's bit-equality with [[graft.api.Graph.pagerank]]).
    *
    * Scale shape: identical to the unweighted key (per round one src-keyed
    * equi-join + one dst-keyed agg) plus the solver's localCheckpoint per
    * round; contributions `rank·w/wsum` quantize to DECIMAL(28,6) with the
    * weight promoted to double on both engines before the quotient.
    */
  private val graphPagerankWeighted = Q(
    "graph_pagerank_weighted",
    (s, d) => {
      // artifact read (r12); still cached — both union branches and every
      // solver round re-read the frame
      val e0 = Caches.cache(txnArtifact(s, d)
        .select(col("u").as("src"), col("v").as("dst"), col("w")))
      val edges = e0.union(
        e0.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      Graph.pagerankUntil(edges, eps = 0.0, maxIters = 5)._1
        .orderBy(col("rank").desc, col("node").asc)
    },
    Some {
      val iter = (1 to 5).map { i =>
        s"""r$i AS (SELECT e.dst AS node,
0.15::DOUBLE + 0.85::DOUBLE * CAST(sum(CAST(${Graph.q6Sql("r.rank * CAST(e.w AS DOUBLE) / CAST(s.wsum AS DOUBLE)")} AS DECIMAL(28,6))) AS DOUBLE) AS rank
FROM edges e JOIN r${i - 1} r ON e.src = r.node JOIN ws s ON e.src = s.node
GROUP BY e.dst)"""
      }.mkString(",\n")
      s"""WITH e0 AS (SELECT o_custkey AS src, l_suppkey + $SUPP_OFF AS dst, count(*) AS w
FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1, 2),
edges AS (SELECT src, dst, w FROM e0 UNION ALL SELECT dst AS src, src AS dst, w FROM e0),
ws AS (SELECT src AS node, sum(CAST(w AS DECIMAL(28,6))) AS wsum FROM edges GROUP BY 1),
r0 AS (SELECT node, 1.0::DOUBLE AS rank FROM ws),
$iter
SELECT node, rank FROM r5 ORDER BY rank DESC, node ASC"""
    })

  /** Per-order basket cap for the co-order derivations. A k-item basket
    * yields k(k−1)/2 pairs — invisible on TPC-H (baskets ≤ 7 items) but
    * quadratic on real basket data, where one 10³-item order would emit
    * ~5·10⁵ pairs. Each basket keeps its `maxBasket` LOWEST part keys
    * (deterministic truncation, the df-cap discipline from Dedup.maxDf)
    * and the number of truncated baskets is SURFACED as `n_capped_orders`
    * in graph_triangles, so the loss is an observable, not a silent bias.
    * 64 ≫ 7 leaves every fixture order intact (n_capped_orders = 0 at all
    * SFs); the Stress `triangles` path plants a 1000-item mega-basket to
    * show the bound.
    */
  private[graft] val MAXBASKET = 64

  /** The one capped-basket derivation every co-order consumer shares:
    * over an `(ok, pk)` item frame, ONE `groupBy(ok)` collects each
    * basket's sorted distinct part keys (`collect_set` deduplicates, so
    * the input need not be distinct) and keeps the lowest `maxBasket` of
    * them as the array `a`; `capped` flags a basket that had more. The
    * null rule: a null `ok` or `pk` is not an item — it forms no pair,
    * takes no cap slot and makes no basket (the oracles' `li` CTEs filter
    * the same nulls).
    */
  private def basketArrays(li: DataFrame,
      maxBasket: Int = MAXBASKET): DataFrame =
    li.filter(col("ok").isNotNull && col("pk").isNotNull)
      .groupBy("ok")
      .agg(sort_array(collect_set(col("pk"))).as("all"))
      .select(slice(col("all"), 1, maxBasket).as("a"),
        (size(col("all")) > maxBasket).as("capped"))

  /** Every ordered pair `(u, v)`, `u < v`, of each [[basketArrays]]
    * basket — one row per basket holding both, so ≤ C(maxBasket, 2) rows
    * per basket. Generated map-side, no join: `posexplode` picks the
    * earlier item by position and the inner `explode` slices the strictly
    * later ones (the [[graft.api.Graph]] wedge-stream shape), so per-row
    * state is the basket array, never its pair array.
    */
  private def basketPairs(b: DataFrame): DataFrame =
    b.select(col("a"), posexplode(col("a")).as(Seq("i", "u")))
      .select(col("u"),
        explode(slice(col("a"), col("i") + lit(2), size(col("a")))).as("v"))

  /** The 1-row `(n_capped_orders)` frame: baskets truncated by the cap. */
  private def cappedCount(b: DataFrame): DataFrame =
    b.agg(count(when(col("capped"), lit(1))).as("n_capped_orders"))

  /** The distinct capped co-occurrence edges `(u, v)` of any `(ok, pk)`
    * item frame plus the 1-row truncation metric — [[basketPairs]] and
    * [[cappedCount]] over one [[basketArrays]] derivation.
    */
  private[graft] def capBaskets(li: DataFrame,
      maxBasket: Int = MAXBASKET): (DataFrame, DataFrame) = {
    val b = basketArrays(li, maxBasket)
    (basketPairs(b).distinct(), cappedCount(b))
  }

  /** The fixture's `(ok, pk)` items: one row per lineitem. */
  private def coOrderItems(s: SparkSession, d: String): DataFrame =
    T.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))

  /** The PERSISTED co-order graph artifact: the WEIGHTED capped co-order
    * edge list `(u, v, w)` (`u < v`, `w` = number of distinct co-ordering
    * baskets) as a bucketed [[graft.api.Graph.edgesOrDerive]] table, read
    * by every graph key. One artifact serves all consumers because the
    * weighted list SUBSUMES the distinct one: `select(u, v)` IS
    * [[capBaskets]]' edge list (the pair aggregate's group key), `w ≥ 3` is
    * graph_components' support filter, and `(u, v, w)` is
    * graph_label_prop_weighted's input — so read-back == direct derivation
    * row-for-row on every path (GraphsSpec pins it) and the DuckDB oracles,
    * which always re-derive from raw parquet, still gate every key
    * end-to-end.
    *
    * The 1-row basket-truncation metric is its own artifact
    * (`coorder_meta`), which graph_triangles surfaces. Both go through the
    * [[graft.api.Tables.tableOrDerive]] gate, so either is re-derived
    * alone when it is missing. A derivation builds the [[basketArrays]]
    * frame once — one lineitem scan, no window, no join — and both tables
    * read it; it is freed before the call returns, so nothing the
    * derivation persisted outlives it.
    */
  private[graft] def coOrderArtifact(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = Caches.scoped {
    lazy val b = Caches.cache(basketArrays(coOrderItems(s, d)))
    val meta = Tables.tableOrDerive(s, Tables.artifactName("coorder_meta", d))(
      cappedCount(b).coalesce(1))
    val ew = Graph.edgesOrDerive(s, Tables.artifactName("coorder", d),
        payload = Seq("w")) {
      basketPairs(b).groupBy("u", "v").agg(count(lit(1)).as("w"))
    }
    (ew, meta)
  }

  /** The persisted ORIENTED co-order graph — [[coOrderArtifact]] one
    * derivation deeper, for the triangle family. Two artifacts per fixture
    * dir: the node-grain degree frame `(n, dg)` as a plain table, and the
    * degree-ordered oriented edge list `(lo, hi, khi)` as a
    * [[graft.api.Graph.writeEdges]] table BUCKETED BY `lo` (so the wedge
    * self-join's both sides and the [[graft.api.Graph.wedgeProbe]]
    * `groupBy(lo)` read co-partitioned buckets). Both come from one
    * [[graft.api.Graph.orient]] plan, validated before either is written:
    * a stored artifact never carries an orientation the probes would
    * refuse live.
    *
    * Read-back == direct derivation row-for-row (GraphsSpec pins it), and
    * the DuckDB oracles still re-derive orientation from raw parquet, so
    * both consumer keys stay gated end-to-end. The consuming builders
    * re-run the bounds + wedge-budget probes over the stored tables —
    * two tiny aggregates — so a hand-edited artifact is refused the same
    * way a bad fresh derivation is.
    */
  private[graft] def coOrderOriented(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    lazy val (deg, oriented) = {
      val o = Graph.orient(coOrderArtifact(s, d)._1.select("u", "v"))
      Graph.validateOrientation(o._1, "coOrderOriented")
      o
    }
    val degT = Tables.tableOrDerive(s, Tables.artifactName("coorder_deg", d))(deg)
    val ori = Graph.edgesOrDerive(s, Tables.artifactName("coorder_oriented", d),
        payload = Seq("khi")) {
      oriented.select(col("lo").as("u"), col("hi").as("v"), col("khi"))
    }
    (degT, ori.select(col("u").as("lo"), col("v").as("hi"), col("khi")))
  }

  /** The persisted customer↔supplier TRANSACTION graph artifact — the
    * [[coOrderArtifact]] discipline applied to the PageRank family's
    * edge list: one directed edge `(u = custkey, v = suppkey + SUPP_OFF)`
    * per trading pair with `w` = transaction (lineitem) multiplicity, from
    * ONE `orders ⋈ lineitem` aggregation per (session, fixture dir). The
    * weighted list subsumes the unweighted one (`select(u, v)` is the
    * distinct pair set — the group key), and the symmetric union both
    * PageRank keys need stays with the consumer (storing one direction
    * halves the artifact; the union is a projection, not a shuffle).
    */
  private[graft] def txnArtifact(s: SparkSession, d: String): DataFrame =
    Graph.edgesOrDerive(s, Tables.artifactName("txn", d),
        payload = Seq("w")) {
      T.orders(s, d)
        .join(T.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("u"),
          (col("l_suppkey") + SUPP_OFF).as("v"))
        .agg(count(lit(1)).as("w"))
    }

  /** Forces the graph family's derive-once session artifacts (co-order
    * edges + orientation, customer↔supplier transaction edges, LPA labels)
    * — the bench harness's setup phase: `graph_edges_persist` alone prices
    * construction, so deriving everything before sampling keeps every
    * other key's cold split artifact-free. Idempotent through the
    * [[graft.api.Tables.tableOrDerive]] gate.
    */
  private[graft] def deriveSessionArtifacts(s: SparkSession, d: String): Unit = {
    coOrderArtifact(s, d)
    coOrderOriented(s, d)
    txnArtifact(s, d)
    lpaLabelsArtifact(s, d)
  }

  /** The oracles' co-order items: distinct `(ok, pk)`, nulls excluded
    * (the [[basketArrays]] null rule).
    */
  private def coOrderLiSql: String =
    """SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL"""

  /** Shared oracle CTE prefix for the capped co-order graph: li → ranked →
    * kept → e0 — the independent window + self-join formulation of
    * [[capBaskets]], under the same null rule.
    */
  private def coOrderSql: String =
    s"""li AS ($coOrderLiSql),
rk AS (SELECT ok, pk, row_number() OVER (PARTITION BY ok ORDER BY pk) AS rk FROM li),
kept AS (SELECT ok, pk FROM rk WHERE rk <= $MAXBASKET),
e0 AS (SELECT DISTINCT a.pk AS u, b.pk AS v FROM kept a JOIN kept b ON a.ok = b.ok AND a.pk < b.pk)"""

  /** Triangle count on the PART co-order graph (parts bought in the same
    * order — the market-basket graph: ~0.006 density at sf0.1 vs the
    * supplier variant's ~0.91, which degenerates into a near-complete
    * graph whose Θ(n³) triangles say nothing) via
    * [[graft.api.Graph.triangles]] — DEGREE-ORDERED edge orientation (the
    * compact-forward / MR-friendly algorithm): every edge points from its
    * lower (degree, id) endpoint to the higher, wedges enumerate ordered
    * out-neighbor pairs of each low node, and a wedge is a triangle iff its
    * closing pair is itself an oriented edge.
    *
    * The orientation is the scale story: out-degrees under (deg, id)
    * ordering are bounded by O(√m) on any graph (arboricity bound), so the
    * wedge self-join fans out per node by the SQUARE ROOT of what a naive
    * adjacency self-join does on a skewed graph — the hub that would
    * generate deg² wedges generates almost none, because nearly all its
    * edges point INTO it. Every join is an equi-join on node keys; the
    * closing-edge probe is an inner join against the distinct oriented edge
    * list (at most one match per wedge — no fan-out). Measured shape at
    * sf0.1: 20k nodes, 1.20M edges, 41.1M wedges, 1.88M triangles.
    * INGESTION is bounded too: [[basketArrays]] caps baskets at
    * [[MAXBASKET]] items and this key emits the truncation count.
    */
  private val graphTriangles = Q(
    "graph_triangles",
    (s, d) => {
      // reads the persisted ORIENTED artifact (r13) — degrees + the
      // degree-ordered edge list stored once per session, so this run
      // pays only the probes and the wedge joins; the stored meta row
      // carries the truncation metric, so no ranking window re-runs here
      val capStats = coOrderArtifact(s, d)._2
      val (deg, oriented) = coOrderOriented(s, d)
      Graph.trianglesOriented(deg, oriented).crossJoin(capStats)
    },
    Some(s"""WITH $coOrderSql,
deg AS (SELECT n, count(*) AS dg FROM (SELECT u AS n FROM e0 UNION ALL SELECT v AS n FROM e0) GROUP BY 1),
ek AS (SELECT u, v, du.dg * ${Graph.KMUL} + u AS ku, dv.dg * ${Graph.KMUL} + v AS kv
       FROM e0 JOIN deg du ON u = du.n JOIN deg dv ON v = dv.n),
o AS (SELECT CASE WHEN ku < kv THEN u ELSE v END AS lo,
             CASE WHEN ku < kv THEN v ELSE u END AS hi,
             CASE WHEN ku < kv THEN kv ELSE ku END AS khi FROM ek),
w AS (SELECT x.hi AS wu, y.hi AS wv FROM o x JOIN o y ON x.lo = y.lo AND x.khi < y.khi),
t AS (SELECT count(*) AS n_triangles FROM w JOIN o ON w.wu = o.lo AND w.wv = o.hi)
SELECT (SELECT count(*) FROM deg) AS n_nodes, (SELECT count(*) FROM e0) AS n_edges, n_triangles,
(SELECT count(DISTINCT ok) FROM rk WHERE rk > $MAXBASKET) AS n_capped_orders FROM t"""))

  /** Label-propagation communities (4 synchronous rounds) on the part
    * co-order graph — [[graft.api.Graph.labelPropagation]]: every part
    * starts as its own community; each round it adopts its co-order
    * neighbors' most frequent label, smallest label on ties. Deterministic
    * by construction, so the unrolled rounds run under the DuckDB gate.
    * Emits every node's final label (node, label) — co-purchase clusters,
    * the market-basket community structure.
    *
    * Scale shape: per round TWO hash aggregates (neighbor-label counts,
    * then an argmax via `max(struct(cnt, −label))` — map-side combinable,
    * no per-node window sort, so a hub's label table never funnels through
    * one sorted partition). Reads the same capped [[coOrderArtifact]]
    * as graph_triangles. The oracle expresses the identical
    * argmax as a row_number window — fixture-scale DuckDB, same rows.
    */
  /** SESSION-persisted artifact of the 4-round LPA labels on the co-order
    * graph: BOTH
    * `graph_label_prop` (emits the labels) and `graph_modularity` (scores
    * them) run the identical 4-round propagation, and each paid the full
    * round chain per run. The label frame is a deterministic pure function
    * of the fixture (smallest-label tie-break, integer votes), so it takes
    * the [[coOrderArtifact]] discipline one derivation deeper: derived
    * once per (session, fixture dir) through
    * [[graft.api.Tables.tableOrDerive]], read by both keys; both DuckDB
    * oracles still unroll the rounds from raw parquet, so artifact ==
    * derivation stays gated end-to-end on each (and GraphsSpec pins
    * read-back == direct).
    */
  private[graft] def lpaLabelsArtifact(s: SparkSession, d: String): DataFrame =
    Tables.tableOrDerive(s, Tables.artifactName("lpa_coorder_i4", d)) {
      // the cache still matters inside the one derive: every LPA round
      // re-reads the edge frame, and one in-memory copy beats
      // 2×(rounds+1) parquet scans even of the bucketed artifact
      val e0 = Caches.cache(coOrderArtifact(s, d)._1.select("u", "v"))
      val edges =
        e0.select(col("u").as("src"), col("v").as("dst"))
          .union(e0.select(col("v").as("src"), col("u").as("dst")))
      Graph.labelPropagation(edges, iters = 4)
    }

  private val graphLabelProp = Q(
    "graph_label_prop",
    (s, d) => lpaLabelsArtifact(s, d).orderBy("node"),
    Some {
      val rounds = (1 to 4).map { i =>
        s"""c$i AS (SELECT e.dst AS node, l.label AS label, count(*) AS cnt
FROM edges e JOIN l${i - 1} l ON e.src = l.node GROUP BY 1, 2),
l$i AS (SELECT node, label FROM (
    SELECT node, label,
      row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
    FROM c$i) WHERE rn = 1)"""
      }.mkString(",\n")
      s"""WITH $coOrderSql,
edges AS (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v AS src, u AS dst FROM e0),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
$rounds
SELECT node, label FROM l4 ORDER BY node"""
    })

  /** WEIGHTED label propagation (§2.12 ext) — [[graphLabelProp]] with
    * CO-ORDER MULTIPLICITY as the edge weight: the signal the unweighted
    * key's `distinct()` discards (two parts co-ordered 40× pull each
    * other 40× harder than a one-off pairing) — the exact upgrade
    * graph_pagerank_weighted applies to the rank solver, here applied to
    * communities via [[graft.api.Graph.labelPropagationWeighted]]
    * (votes are integer `sum(w)` — exact, deterministic, tie → smallest
    * label, so the rounds unroll into the oracle chain; the w = 1
    * reduction to the unweighted builder is ApiSpec-pinned bit-for-bit).
    *
    * Scale shape: the stored `w` is the [[basketPairs]] count of the
    * [[coOrderArtifact]] (≤ C(64,2) pairs per basket); per round the
    * same two map-side-combinable hash aggregates as the unweighted key.
    */
  private val graphLabelPropWeighted = Q(
    "graph_label_prop_weighted",
    (s, d) => {
      // the artifact IS this key's exact input — (u, v, w) with w the
      // distinct-basket co-order count (r12)
      val e0 = Caches.cache(coOrderArtifact(s, d)._1)
      val edges = e0
        .select(col("u").as("src"), col("v").as("dst"), col("w"))
        .union(e0.select(col("v").as("src"), col("u").as("dst"), col("w")))
      Graph.labelPropagationWeighted(edges, iters = 4).orderBy("node")
    },
    Some {
      val rounds = (1 to 4).map { i =>
        s"""c$i AS (SELECT e.dst AS node, l.label AS label, CAST(sum(e.w) AS BIGINT) AS cnt
FROM edges e JOIN l${i - 1} l ON e.src = l.node GROUP BY 1, 2),
l$i AS (SELECT node, label FROM (
    SELECT node, label,
      row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
    FROM c$i) WHERE rn = 1)"""
      }.mkString(",\n")
      s"""WITH li AS ($coOrderLiSql),
rk AS (SELECT ok, pk, row_number() OVER (PARTITION BY ok ORDER BY pk) AS rk FROM li),
kept AS (SELECT ok, pk FROM rk WHERE rk <= $MAXBASKET),
e0 AS (SELECT a.pk AS u, b.pk AS v, count(*) AS w
  FROM kept a JOIN kept b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2),
edges AS (SELECT u AS src, v AS dst, w FROM e0
  UNION ALL SELECT v AS src, u AS dst, w FROM e0),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
$rounds
SELECT node, label FROM l4 ORDER BY node"""
    })

  /** Community QUALITY for [[graphLabelProp]] (§2.12 ext) — Newman
    * modularity of the 4-round LPA labels on the co-order graph, via
    * [[graft.api.Graph.modularity]]: the number that says whether the
    * rounds were enough (Q ≈ 0 → labels no better than random wiring;
    * 0.3+ → real community structure), the same metric-beside-heuristic
    * discipline the ANN keys apply with their recall metrics. One row:
    * (n_communities, n_edges_directed, modularity).
    *
    * Reading the fixture number: the co-order graph is DENSE by
    * construction (~0.006 edge density, median degree ~115), so 4 LPA
    * rounds collapse it to 2 communities at Q ≈ 0.004 — correctly
    * reporting that the fixture graph has no real community structure
    * (the llm_ann_pq_recall precedent: a metric keyed to corpus shape
    * shows its floor on structureless synthetic data; ApiSpec's planted
    * cliques pin the high-Q regime).
    *
    * All-integer numerators with DECIMAL(19,0)-factor products and
    * DECIMAL(38,0) sums; ONE closing IEEE division → RAW (builder
    * scaladoc has the full derivation). The oracle extends the LPA key's
    * unrolled round chain with the same two-aggregate modularity read,
    * so the two keys cannot disagree about the labels.
    *
    * Scale shape: the LPA rounds (two map-side-combinable aggregates per
    * round) + two node-keyed label joins + a community-grain aggregate.
    */
  private val graphModularity = Q(
    "graph_modularity",
    (s, d) => {
      val e0 = Caches.cache(coOrderArtifact(s, d)._1.select("u", "v"))
      val edges =
        e0.select(col("u").as("src"), col("v").as("dst"))
          .union(e0.select(col("v").as("src"), col("u").as("dst")))
      // shared with graph_label_prop via the session artifact (r15) —
      // the 4-round propagation runs once per (session, fixture dir)
      val labels = lpaLabelsArtifact(s, d)
      Graph.modularity(edges, labels)
    },
    Some {
      val rounds = (1 to 4).map { i =>
        s"""c$i AS (SELECT e.dst AS node, l.label AS label, count(*) AS cnt
FROM edges e JOIN l${i - 1} l ON e.src = l.node GROUP BY 1, 2),
l$i AS (SELECT node, label FROM (
    SELECT node, label,
      row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
    FROM c$i) WHERE rn = 1)"""
      }.mkString(",\n")
      s"""WITH $coOrderSql,
edges AS (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v AS src, u AS dst FROM e0),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
$rounds,
le AS (SELECT ls.label AS lsrc, ld.label AS ldst
  FROM edges JOIN l4 ls ON edges.src = ls.node
             JOIN l4 ld ON edges.dst = ld.node),
perc AS (SELECT lsrc, count(*) AS d,
    CAST(sum(CASE WHEN lsrc = ldst THEN 1 ELSE 0 END) AS BIGINT) AS inc
  FROM le GROUP BY 1)
SELECT count(*) AS n_communities,
  CAST(sum(d) AS BIGINT) AS n_edges_directed,
  (CAST(CAST(sum(d) AS BIGINT) AS DOUBLE) * CAST(CAST(sum(inc) AS BIGINT) AS DOUBLE)
   - CAST(sum(CAST(d AS DECIMAL(19,0)) * CAST(d AS DECIMAL(19,0))) AS DOUBLE))
  / (CAST(CAST(sum(d) AS BIGINT) AS DOUBLE) * CAST(CAST(sum(d) AS BIGINT) AS DOUBLE)) AS modularity
FROM perc"""
    })

  /** Neighbor cap for [[graphJaccardSim]] — C(32, 2) = 496 wedges per
    * center max. The co-order graph's MEDIAN degree is ~115 at every SF
    * (dense by construction), so most neighborhoods are genuinely sampled;
    * the md5 ordering makes the sample unbiased and engine-reproducible,
    * and `n_capped_nodes` surfaces how many were truncated.
    */
  private val JCAP = 32

  /** Item-item similarity on the part co-order graph — neighborhood
    * Jaccard over the capped adjacency via
    * [[graft.api.Graph.jaccardSimilarity]] ("parts bought alongside the
    * same other parts", the market-basket recommender signal). Pairs with
    * `cn ≥ 2` and `jacc ≥ 0.15` (~100 rows at sf0.01 AND sf0.1 — the
    * filter, not a top-k limit, so no rank-tie truncation hazard), plus
    * the constant `n_capped_nodes` truncation metric. `jacc` is an
    * integer ratio — identical IEEE division in both engines, emitted RAW.
    *
    * Scale shape: reads the capped [[coOrderArtifact]], then the
    * builder's per-center C(cap,2) wedge bound; every join is node-keyed.
    * The jacc ≥ 0.15 comparison runs on bit-identical doubles, so the
    * filter cannot tie-split across engines.
    */
  private val graphJaccardSim = Q(
    "graph_jaccard_sim",
    (s, d) => {
      val e0 = Caches.cache(coOrderArtifact(s, d)._1.select("u", "v"))
      val adj = e0.select(col("u").as("src"), col("v").as("dst"))
        .union(e0.select(col("v").as("src"), col("u").as("dst")))
      val capped = adj
        .groupBy("src").agg(count(lit(1)).as("dg"))
        .filter(col("dg") > JCAP)
        .agg(count(lit(1)).as("n_capped_nodes"))
      Graph.jaccardSimilarity(adj, cap = JCAP, minCn = 2L, minJacc = 0.15)
        .crossJoin(broadcast(capped))
        .orderBy(col("jacc").desc, col("u").asc, col("v").asc)
    },
    Some(s"""WITH $coOrderSql,
adj AS (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0),
nr AS (SELECT src, dst,
         row_number() OVER (PARTITION BY src ORDER BY md5(CAST(dst AS VARCHAR)), dst) AS rn
       FROM adj),
ka AS (SELECT src, dst FROM nr WHERE rn <= $JCAP),
ind AS (SELECT dst, count(*) AS deg FROM ka GROUP BY 1),
w AS (SELECT a.dst AS u, b.dst AS v, count(*) AS cn
      FROM ka a JOIN ka b ON a.src = b.src AND a.dst < b.dst GROUP BY 1, 2),
j AS (SELECT u, v, cn, du.deg AS du, dv.deg AS dv,
        CAST(cn AS DOUBLE) / (du.deg + dv.deg - cn) AS jacc
      FROM w JOIN ind du ON u = du.dst JOIN ind dv ON v = dv.dst),
capped AS (SELECT count(*) AS n_capped_nodes FROM
  (SELECT src FROM adj GROUP BY src HAVING count(*) > $JCAP))
SELECT u, v, cn, du, dv, jacc, n_capped_nodes FROM j, capped
WHERE cn >= 2 AND jacc >= 0.15
ORDER BY jacc DESC, u ASC, v ASC"""))

  /** Market-basket ASSOCIATION RULES over the capped part co-order baskets
    * — support / confidence / lift for every part pair co-ordered at least
    * twice (the frequent-itemset layer under [[graphJaccardSim]]'s
    * similarity view: rules quantify DIRECTIONAL implication, u→v vs v→u).
    * Per surviving pair: pair support `s_uv` (baskets containing both),
    * item supports `s_u`/`s_v`, `conf_uv = s_uv/s_u`, `conf_vu = s_uv/s_v`,
    * and `lift = (s_uv·N)/(s_u·s_v)` — all three ratios pure IEEE on exact
    * longs with the operand order spelled identically in both engines →
    * RAW (core.scala H rules; everything here is strictly positive, no
    * signed-zero exposure).
    *
    * Scale shape: pair counting is ONE hash aggregate over the
    * [[basketPairs]] stream (≤ C(64,2) pairs per basket, no join);
    * item supports are a part-grain aggregate joined back PART-KEYED on
    * each side (never basket×basket); the basket total is a 1-row
    * broadcast. SCALING RULE (same as Dedup.maxDf's): `minSupport = 2` is
    * the fixture-engaging ABSOLUTE threshold (synthetic baskets are
    * near-random — ~3.4k pairs reach 2 co-orders at sf0.01 AND sf0.1, and
    * only single digits reach 3); production holds the support FRACTION
    * (s_uv/N), not the count, or the rule set grows linearly with the
    * corpus.
    */
  private val graphAssocRules = Q(
    "agg_assoc_rules",
    (s, d) => {
      // one basket frame feeds the pair counts, item supports and total
      val baskets = Caches.cache(basketArrays(coOrderItems(s, d)))
      val pairs = basketPairs(baskets)
        .groupBy("u", "v")
        .agg(count(lit(1)).as("s_uv"))
        .filter(col("s_uv") >= 2)
      val items = baskets.select(explode(col("a")).as("pk"))
        .groupBy(col("pk")).agg(count(lit(1)).as("s"))
      val nb = baskets.agg(count(lit(1)).as("nb"))
      pairs
        .join(items.select(col("pk").as("u"), col("s").as("s_u")), "u")
        .join(items.select(col("pk").as("v"), col("s").as("s_v")), "v")
        .crossJoin(broadcast(nb))
        .select(col("u"), col("v"), col("s_uv"), col("s_u"), col("s_v"),
          (col("s_uv").cast("double") / col("s_u")).as("conf_uv"),
          (col("s_uv").cast("double") / col("s_v")).as("conf_vu"),
          ((col("s_uv").cast("double") * col("nb").cast("double")) /
            (col("s_u").cast("double") * col("s_v").cast("double")))
            .as("lift"))
        .orderBy("u", "v")
    },
    Some(s"""WITH li AS ($coOrderLiSql),
rk AS (SELECT ok, pk, row_number() OVER (PARTITION BY ok ORDER BY pk) AS rk FROM li),
kept AS (SELECT ok, pk FROM rk WHERE rk <= $MAXBASKET),
pairs AS (SELECT a.pk AS u, b.pk AS v, count(*) AS s_uv
  FROM kept a JOIN kept b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2 HAVING count(*) >= 2),
items AS (SELECT pk, count(*) AS s FROM kept GROUP BY 1),
nbt AS (SELECT count(DISTINCT ok) AS nb FROM kept)
SELECT u, v, s_uv, iu.s AS s_u, iv.s AS s_v,
  CAST(s_uv AS DOUBLE) / iu.s AS conf_uv,
  CAST(s_uv AS DOUBLE) / iv.s AS conf_vu,
  (CAST(s_uv AS DOUBLE) * CAST(nb AS DOUBLE))
    / (CAST(iu.s AS DOUBLE) * CAST(iv.s AS DOUBLE)) AS lift
FROM pairs JOIN items iu ON u = iu.pk JOIN items iv ON v = iv.pk, nbt
ORDER BY u, v"""))

  /** Single-source BFS (3 hops) on the part co-order graph from part 0 —
    * "how many co-purchase steps away is everything from this item?", the
    * reachability/diameter probe of §2.12 (and the traversal primitive
    * under recommendations-by-expansion). Emits (node, hop) for every part
    * within 3 hops via [[graft.api.Graph.bfsHops]]; at sf0.01 the dense
    * basket graph reaches 1 + 123 + 1876 = 2000 nodes by hop 2 (the 3rd
    * round proves emptiness — the interesting output IS the hop
    * distribution). Deterministic with no tie-breaks: frontier BFS assigns
    * each node its unique shortest hop.
    *
    * Scale shape: reads the capped [[coOrderArtifact]]; per round
    * one src-keyed join + distinct + node-keyed anti-join (builder
    * scaladoc). The oracle unrolls the identical 3 rounds as NOT-IN CTEs.
    */
  private val graphBfsHops = Q(
    "graph_bfs_hops",
    (s, d) => {
      val e0 = Caches.cache(coOrderArtifact(s, d)._1.select("u", "v"))
      val edges = e0.select(col("u").as("src"), col("v").as("dst"))
        .union(e0.select(col("v").as("src"), col("u").as("dst")))
      Graph.bfsHops(edges, source = 0L, maxHops = 3).orderBy("node")
    },
    Some {
      val rounds = (1 to 3).map { i =>
        s"""f$i AS (SELECT DISTINCT e.dst AS node FROM edges e
  JOIN f${i - 1} f ON e.src = f.node
  WHERE e.dst NOT IN (SELECT node FROM v${i - 1})),
v$i AS (SELECT node, hop FROM v${i - 1}
  UNION ALL SELECT node, $i AS hop FROM f$i)"""
      }.mkString(",\n")
      s"""WITH $coOrderSql,
edges AS (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0),
f0 AS (SELECT CAST(0 AS BIGINT) AS node),
v0 AS (SELECT node, 0 AS hop FROM f0),
$rounds
SELECT node, hop FROM v3 ORDER BY node"""
    })

  /** Sampled-source harmonic centrality (§2.12 ext, r13) — the
    * probe-based estimator behind every at-scale closeness/harmonic
    * ranking: exact all-pairs harmonic centrality is Θ(|V|·BFS), so
    * production estimators run BFS from a SMALL probe set and sum
    * 1/distance per reached node (Eppstein–Wang style). Here: the 4
    * lowest part ids (deterministic + oracle-trivial; a production run
    * swaps in a seeded random sample — the ESTIMATOR shape is what this
    * key pins), 3 hops, all sources in ONE
    * [[graft.api.Graph.multiBfsHops]] pass. Emits per reached node the
    * probe count and `Σ 1/hop`, the harmonic estimate.
    *
    * Float discipline: with hops ∈ {1,2,3}, `Σ 6/hop` is an EXACT integer
    * (6, 3, 2 per term — emitted as `h6_sum`); `harmonic = h6_sum / 6.0`
    * is one IEEE division of exact ints → RAW. The oracle closes the same
    * 3-hop reach with unrolled DISTINCT walk levels + a min-hop aggregate
    * (a length-k walk exists for every distance-k node, and min over walk
    * lengths is the BFS distance) — a different algorithm than the
    * frontier/anti-join solver, same rows.
    *
    * Scale shape: state is (4 × node)-grain; per round one edges⋈frontier
    * equi-join + distinct + anti-join, the edge list read in place under
    * the nodeHint guard. The probe-set collect is 4 rows (bounded driver
    * probe, the codebook discipline).
    */
  private val graphHarmonicSampled = Q(
    "graph_harmonic_sampled",
    (s, d) => {
      val e0 = Caches.cache(coOrderArtifact(s, d)._1.select("u", "v"))
      val edges = e0.select(col("u").as("src"), col("v").as("dst"))
        .union(e0.select(col("v").as("src"), col("u").as("dst")))
      val srcs = e0.select(col("u").as("n"))
        .union(e0.select(col("v").as("n")))
        .distinct().orderBy("n").limit(4)
        .collect().map(_.getAs[Number](0).longValue).toSeq
      val hops = Graph.multiBfsHops(edges, srcs, maxHops = 3)
      hops.filter(col("hop") > 0)
        .groupBy("node")
        .agg(count(lit(1)).as("n_reached"),
          sum(when(col("hop") === 1, 6L).when(col("hop") === 2, 3L)
            .otherwise(2L)).as("h6_sum"))
        .select(col("node"), col("n_reached"), col("h6_sum"),
          (col("h6_sum").cast("double") / lit(6.0)).as("harmonic"))
        .orderBy("node")
    },
    Some(s"""WITH $coOrderSql,
sym AS (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0),
sp AS (SELECT DISTINCT src AS n FROM sym ORDER BY n LIMIT 4),
l0 AS (SELECT n AS bsrc, n AS node FROM sp),
l1 AS (SELECT DISTINCT l0.bsrc, e.dst AS node FROM l0 JOIN sym e ON e.src = l0.node),
l2 AS (SELECT DISTINCT l1.bsrc, e.dst AS node FROM l1 JOIN sym e ON e.src = l1.node),
l3 AS (SELECT DISTINCT l2.bsrc, e.dst AS node FROM l2 JOIN sym e ON e.src = l2.node),
hops AS (SELECT bsrc, node, 0 AS hop FROM l0
  UNION ALL SELECT bsrc, node, 1 FROM l1
  UNION ALL SELECT bsrc, node, 2 FROM l2
  UNION ALL SELECT bsrc, node, 3 FROM l3),
m AS (SELECT bsrc, node, min(hop) AS hop FROM hops GROUP BY 1, 2)
SELECT node, count(*) AS n_reached,
  CAST(sum(CASE hop WHEN 1 THEN 6 WHEN 2 THEN 3 ELSE 2 END) AS BIGINT) AS h6_sum,
  CAST(sum(CASE hop WHEN 1 THEN 6 WHEN 2 THEN 3 ELSE 2 END) AS DOUBLE) / 6.0 AS harmonic
FROM m WHERE hop > 0
GROUP BY node ORDER BY node"""))

  /** Sampled betweenness centrality (§2.12 ext, r14) — the Brandes-sampled
    * estimator behind at-scale betweenness rankings (exact Brandes is
    * Θ(|V|·BFS); production estimators run the forward-σ/backward-δ pass
    * from a probe set — the [[graphHarmonicSampled]] discipline extended
    * to dependency accumulation): BFS from the 4 lowest part ids
    * (deterministic + oracle-trivial; a production run swaps a seeded
    * random sample — the ESTIMATOR shape is what this key pins), 3 hops,
    * via [[graft.api.Graph.betweennessSampled]]. Emits per reached node
    * the probe count and the summed dependency `bc` — the sampled
    * betweenness estimate (which co-purchased parts BROKER the most
    * shortest co-order paths).
    *
    * Float discipline: σ are exact longs; each δ term σv/σw·(1+δw) is
    * identical spelled-order IEEE quantized at 1e-6 and summed as exact
    * DECIMAL(28,6) (the PageRank rule), per level and again across
    * sources → bc emits RAW. The oracle rebuilds hops from unrolled
    * DISTINCT walk levels + min (the harmonic oracle's different-
    * algorithm gate), then the same σ/δ chain.
    *
    * Scale shape: one multi-source BFS (k×|V| state), the per-source DAG
    * as two node-keyed joins (≤ k×|E| rows, cached), one hash aggregate
    * per σ/δ level, maxHops-bounded unroll. No windows, nothing
    * quadratic.
    */
  private val graphBetweennessSampled = Q(
    "graph_betweenness_sampled",
    (s, d) => {
      val e0 = Caches.cache(coOrderArtifact(s, d)._1.select("u", "v"))
      val edges = e0.select(col("u").as("src"), col("v").as("dst"))
        .union(e0.select(col("v").as("src"), col("u").as("dst")))
      val srcs = e0.select(col("u").as("n"))
        .union(e0.select(col("v").as("n")))
        .distinct().orderBy("n").limit(4)
        .collect().map(_.getAs[Number](0).longValue).toSeq
      Graph.betweennessSampled(edges, srcs, maxHops = 3)
        .orderBy("node")
    },
    Some(s"""WITH $coOrderSql,
sym AS (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0),
sp AS (SELECT DISTINCT src AS n FROM sym ORDER BY n LIMIT 4),
l0 AS (SELECT n AS bsrc, n AS node FROM sp),
l1 AS (SELECT DISTINCT l0.bsrc, e.dst AS node FROM l0 JOIN sym e ON e.src = l0.node),
l2 AS (SELECT DISTINCT l1.bsrc, e.dst AS node FROM l1 JOIN sym e ON e.src = l1.node),
l3 AS (SELECT DISTINCT l2.bsrc, e.dst AS node FROM l2 JOIN sym e ON e.src = l2.node),
walks AS (SELECT bsrc, node, 0 AS hop FROM l0
  UNION ALL SELECT bsrc, node, 1 FROM l1
  UNION ALL SELECT bsrc, node, 2 FROM l2
  UNION ALL SELECT bsrc, node, 3 FROM l3),
m AS (SELECT bsrc AS source, node, min(hop) AS hop FROM walks GROUP BY 1, 2),
dag AS (SELECT h1.source, e.src, e.dst, h1.hop AS hu
  FROM sym e
  JOIN m h1 ON h1.node = e.src
  JOIN m h2 ON h2.source = h1.source AND h2.node = e.dst
  WHERE h2.hop = h1.hop + 1),
s0 AS (SELECT source, node, CAST(1 AS BIGINT) AS sigma FROM m WHERE hop = 0),
s1 AS (SELECT d.source, d.dst AS node, CAST(sum(su.sigma) AS BIGINT) AS sigma
  FROM dag d JOIN s0 su ON su.source = d.source AND su.node = d.src
  WHERE d.hu = 0 GROUP BY 1, 2),
s2 AS (SELECT d.source, d.dst AS node, CAST(sum(su.sigma) AS BIGINT) AS sigma
  FROM dag d JOIN s1 su ON su.source = d.source AND su.node = d.src
  WHERE d.hu = 1 GROUP BY 1, 2),
s3 AS (SELECT d.source, d.dst AS node, CAST(sum(su.sigma) AS BIGINT) AS sigma
  FROM dag d JOIN s2 su ON su.source = d.source AND su.node = d.src
  WHERE d.hu = 2 GROUP BY 1, 2),
d2 AS (SELECT d.source, d.src AS node,
    ${dec6SumSql(q6Sql("CAST(su.sigma AS DOUBLE) / CAST(sv.sigma AS DOUBLE) * (1.0 + 0.0)"))} AS delta
  FROM dag d
  JOIN s2 su ON su.source = d.source AND su.node = d.src
  JOIN s3 sv ON sv.source = d.source AND sv.node = d.dst
  WHERE d.hu = 2 GROUP BY 1, 2),
d1 AS (SELECT d.source, d.src AS node,
    ${dec6SumSql(q6Sql("CAST(su.sigma AS DOUBLE) / CAST(sv.sigma AS DOUBLE) * (1.0 + coalesce(dd.delta, 0.0))"))} AS delta
  FROM dag d
  JOIN s1 su ON su.source = d.source AND su.node = d.src
  JOIN s2 sv ON sv.source = d.source AND sv.node = d.dst
  LEFT JOIN d2 dd ON dd.source = d.source AND dd.node = d.dst
  WHERE d.hu = 1 GROUP BY 1, 2),
all_d AS (SELECT source, node, delta FROM d1
  UNION ALL SELECT source, node, delta FROM d2)
SELECT m.node, count(*) AS n_sources,
  ${dec6SumSql(q6Sql("coalesce(ad.delta, 0.0)"))} AS bc
FROM m LEFT JOIN all_d ad ON ad.source = m.source AND ad.node = m.node
WHERE m.hop > 0
GROUP BY m.node ORDER BY m.node"""))

  /** k-core peel (k = 70, 5 synchronous rounds) on the part co-order graph
    * — the cohesive-subgraph extractor of §2.12: parts surviving all five
    * peels co-occur with ≥ 70 other surviving parts, the "always bought in
    * rich baskets" core (and, on a link graph, the standard spam/periphery
    * separator). Emits survivors as (node, coredeg) via
    * [[graft.api.Graph.kcore]]; the probed trajectories are genuine
    * cascades, not a one-shot degree filter: sf0.001 peels 200 → 185 →
    * 177 → 169 → 153 → 123 (still shrinking at the bounded-round cut —
    * the prefix semantics in the builder scaladoc), sf0.01 stabilizes at
    * 2000 → 1972 → 1971.
    *
    * Scale shape: reads the capped [[coOrderArtifact]]; per round
    * two node-keyed joins + one hash aggregate over a shrinking node set
    * (builder scaladoc). The oracle unrolls the identical 5 rounds.
    */
  private val graphKcore = Q(
    "graph_kcore",
    (s, d) => {
      val e0 = Caches.cache(coOrderArtifact(s, d)._1.select("u", "v"))
      val edges = e0.select(col("u").as("src"), col("v").as("dst"))
        .union(e0.select(col("v").as("src"), col("u").as("dst")))
      Graph.kcore(edges, k = 70, rounds = 5).orderBy("node")
    },
    Some {
      val rounds = (1 to 5).map { i =>
        s"""a$i AS (SELECT node FROM (
  SELECT e.src AS node, count(*) AS dg FROM edges e
    JOIN a${i - 1} x ON e.src = x.node
    JOIN a${i - 1} y ON e.dst = y.node
  GROUP BY 1) WHERE dg >= 70)"""
      }.mkString(",\n")
      s"""WITH $coOrderSql,
edges AS (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0),
a0 AS (SELECT DISTINCT src AS node FROM edges),
$rounds
SELECT node, coredeg FROM (
  SELECT e.src AS node, count(*) AS coredeg FROM edges e
    JOIN a5 x ON e.src = x.node
    JOIN a5 y ON e.dst = y.node
  GROUP BY 1)
ORDER BY node"""
    })

  /** Degree assortativity (§2.12 ext) — the Pearson correlation of
    * endpoint degrees across the (symmetric) directed edge list: do
    * high-degree parts co-occur with other hubs (r > 0, social-network
    * shape) or with the periphery (r < 0, hub-and-spoke/technological
    * shape)? One row: (n_edges_directed, mean_deg, assortativity) on the
    * capped co-order graph — the one-number structural fingerprint next
    * to triangles' clustering count.
    *
    * Float discipline: all five moment sums accumulate in DECIMAL(38,0)
    * (exact, order-independent, overflow-safe — Σxy alone can pass 2⁶³ on
    * a hub-heavy corpus where raw BIGINT sums would wrap), and the
    * PER-ROW products cast each FACTOR to DECIMAL(19,0) before
    * multiplying (r8 advisory: a BIGINT x·y wraps silently in non-ANSI
    * Spark / errors in DuckDB before any decimal sum can save it;
    * 19+19 ≤ 38 keeps the product width legal in both engines); the closing
    * Pearson chain casts each sum to double once and runs identical
    * spelled-order IEEE (sqrt is correctly rounded) → RAW, the
    * agg_ab_test precedent for zero-crossing statistics.
    *
    * Scale shape: delegated to [[graft.api.Graph.assortativity]] — one
    * node-grain degree aggregate, one node-keyed join per endpoint (the
    * degree-frame hints are GUARDED by the shared
    * [[graft.api.Graph.nodeHint]] probe, r11), one 5-sum
    * map-side-combinable aggregate over the edges. Nothing quadratic
    * anywhere.
    */
  private val graphAssortativity = Q(
    "graph_assortativity",
    (s, d) => {
      val e0 = Caches.cache(coOrderArtifact(s, d)._1.select("u", "v"))
      val adj = e0.select(col("u").as("src"), col("v").as("dst"))
        .union(e0.select(col("v").as("src"), col("u").as("dst")))
      graft.api.Graph.assortativity(adj)
    },
    Some(s"""WITH $coOrderSql,
adj AS (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0),
deg AS (SELECT src, count(*) AS dg FROM adj GROUP BY 1),
xy AS (SELECT dx.dg AS x, dy.dg AS y
  FROM adj JOIN deg dx ON adj.src = dx.src JOIN deg dy ON adj.dst = dy.src),
m AS (SELECT count(*) AS n,
        CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
        CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
        CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS DOUBLE) AS sxx,
        CAST(sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS syy,
        CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS sxy
      FROM xy)
SELECT n AS n_edges_directed, sx / n AS mean_deg,
  (n * sxy - sx * sy)
    / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS assortativity
FROM m"""))

  /** Connected components of the SUPPORT-THRESHOLDED co-order graph
    * (pairs co-ordered in ≥ 3 distinct orders) — the graph-family oracled
    * CC key: where `llm_dedup_clusters_ngram` gates the
    * [[graft.api.Dedup.connectedComponents]] solver on document-pair
    * edges, this gates the SAME Shiloach–Vishkin pointer-doubling on a
    * relationally-derived product graph whose support filter leaves the
    * many-small-components regime (56 components of ≤ 4 parts at sf0.01)
    * — the co-purchase "product family" extraction. DuckDB recomputes the
    * components with a recursive-CTE transitive closure (a completely
    * different algorithm), so a hash match verifies the solver, not its
    * input.
    *
    * Scale shape: the support count is the stored `w` of the
    * [[coOrderArtifact]] ([[basketPairs]], ≤ C(64,2) pairs per basket;
    * the support-≥3 filter prunes BEFORE the solver sees an edge); the
    * CC solver is O(log n) pointer-doubling rounds with per-round
    * localCheckpoint (the llm_dedup_clusters shape).
    */
  private val graphComponents = Q(
    "graph_components",
    (s, d) => {
      // the artifact's w IS this key's support count — the ≥3 filter runs
      // on the stored column (r12), pruning before the solver as before
      val pairs = coOrderArtifact(s, d)._1
        .filter(col("w") >= 3)
        .select(col("u").as("a_id"), col("v").as("b_id"))
      graft.api.Dedup.connectedComponents(pairs)
        .groupBy("component")
        .agg(count(lit(1)).as("n_parts"), min(col("id")).as("rep_part"))
        .orderBy("component")
    },
    Some(s"""WITH RECURSIVE
li AS ($coOrderLiSql),
rk AS (SELECT ok, pk, row_number() OVER (PARTITION BY ok ORDER BY pk) AS rk FROM li),
kept AS (SELECT ok, pk FROM rk WHERE rk <= $MAXBASKET),
p2 AS (SELECT a.pk AS u, b.pk AS v FROM kept a JOIN kept b
         ON a.ok = b.ok AND a.pk < b.pk
       GROUP BY 1, 2 HAVING count(*) >= 3),
edges AS (SELECT u AS src, v AS dst FROM p2
          UNION ALL SELECT v AS src, u AS dst FROM p2),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(id, comp) AS (
  SELECT id, id AS comp FROM nodes
  UNION
  SELECT e.dst AS id, r.comp FROM reach r JOIN edges e ON e.src = r.id),
cc AS (SELECT id, min(comp) AS component FROM reach GROUP BY id)
SELECT component, count(*) AS n_parts, min(id) AS rep_part
FROM cc GROUP BY component ORDER BY component"""))

  /** Strongly connected components (§2.12 ext, r15 — the directed-graph
    * alternative the r13 verdict queued behind betweenness) over the PART
    * FLOW graph: a genuinely DIRECTED derivation (the co-order graph is
    * symmetric, so SCC there is just CC) — within each order, parts sorted
    * by (first linenumber, partkey) chain into directed edges
    * `part_i → part_{i+1}`; cycles arise when different orders chain the
    * same parts in opposite directions, so components are nontrivial.
    * Emits node grain (node, scc) with scc = the component's smallest
    * member id — singletons included (acyclic nodes are their own SCC).
    *
    * All-integer, tie-free (min/distinct only) → zero float exposure.
    *
    * Scale shape: the edge derivation is one (order, part) hash aggregate
    * + a lead window PARTITIONED on the high-cardinality order key, then
    * [[graft.api.Graph.stronglyConnected]]'s phased min-label
    * decomposition (diameter-bounded pull rounds, class-restricted
    * mark-back — the builder scaladoc carries the exactness proof and the
    * bounded-round refusal contract). The DuckDB oracle computes the same
    * components by recursive all-pairs reachability — correct at fixture
    * scale, quadratic beyond it; the phased decomposition is the 100 TB
    * path, which is exactly why the key exists.
    */
  private val graphScc = Q(
    "graph_scc",
    (s, d) => {
      val li = T.lineitem(s, d)
        .groupBy(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .agg(min(col("l_linenumber")).as("ln"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("ok").orderBy("ln", "pk")
      val edges = li.withColumn("nxt", lead(col("pk"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("pk").as("src"), col("nxt").as("dst"))
        .distinct()
      Graph.stronglyConnected(edges).orderBy("node")
    },
    Some("""WITH RECURSIVE
li AS (SELECT l_orderkey AS ok, l_partkey AS pk, min(l_linenumber) AS ln
       FROM lineitem GROUP BY 1, 2),
rkd AS (SELECT ok, pk,
        row_number() OVER (PARTITION BY ok ORDER BY ln, pk) AS rn FROM li),
e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
      FROM rkd a JOIN rkd b ON a.ok = b.ok AND b.rn = a.rn + 1),
nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
reach(a, b) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b),
scc AS (SELECT r1.a AS node, min(r1.b) AS scc
        FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
        GROUP BY 1)
SELECT node, scc FROM scc ORDER BY node"""))

  /** Per-node local clustering coefficient (§2.12 ext) on the capped part
    * co-order graph — how clique-like each part's co-purchase
    * neighborhood is, the node-grain refinement of [[graphTriangles]]'
    * global count: `cc = 2·t/(deg·(deg−1))`, plus the graph's average cc
    * (all nodes, degree-<2 counted as 0 — the NetworkX convention)
    * cross-joined onto every row.
    *
    * Same compact-forward orientation (out-degree O(√m) on any graph) as
    * triangles; the per-corner attribution is one extra node-grain hash
    * agg over the closed-wedge frame. Float discipline: cc is one double
    * division of exact ints (RAW); the average quantizes each cc
    * ([[H.q6]]) and sums as exact DECIMAL ([[H.dec6Sum]]) — node-order-
    * independent.
    */
  private val graphClusteringCoeff = Q(
    "graph_clustering_coeff",
    (s, d) => {
      // oriented artifact read (r13): same stored tables as graph_triangles
      val (deg, oriented) = coOrderOriented(s, d)
      // cache the node-grain result: it feeds BOTH the avg aggregate and
      // the final cross join — uncached, the whole wedge pipeline would
      // re-execute per consumer (the modularity lesson)
      val nodes = Caches.cache(Graph.localClusteringOriented(deg, oriented))
      val avg = nodes.agg(
        (dec6Sum(q6(col("cc"))) / count(lit(1))).as("avg_cc"))
      nodes.crossJoin(broadcast(avg)).orderBy("node")
    },
    Some(s"""WITH $coOrderSql,
deg AS (SELECT n, count(*) AS dg FROM (SELECT u AS n FROM e0 UNION ALL SELECT v AS n FROM e0) GROUP BY 1),
ek AS (SELECT u, v, du.dg * ${Graph.KMUL} + u AS ku, dv.dg * ${Graph.KMUL} + v AS kv
       FROM e0 JOIN deg du ON u = du.n JOIN deg dv ON v = dv.n),
o AS (SELECT CASE WHEN ku < kv THEN u ELSE v END AS lo,
             CASE WHEN ku < kv THEN v ELSE u END AS hi,
             CASE WHEN ku < kv THEN kv ELSE ku END AS khi FROM ek),
w AS (SELECT x.lo AS ctr, x.hi AS wu, y.hi AS wv
      FROM o x JOIN o y ON x.lo = y.lo AND x.khi < y.khi),
t AS (SELECT ctr, wu, wv FROM w JOIN o ON w.wu = o.lo AND w.wv = o.hi),
tn AS (SELECT n, count(*) AS tri_n FROM (
    SELECT ctr AS n FROM t UNION ALL SELECT wu AS n FROM t
    UNION ALL SELECT wv AS n FROM t) GROUP BY 1),
cc AS (SELECT deg.n AS node, dg AS degree,
    CAST(coalesce(tri_n, 0) AS BIGINT) AS tri_n,
    CASE WHEN dg >= 2 THEN 2.0 * CAST(coalesce(tri_n, 0) AS DOUBLE)
        / (CAST(dg AS DOUBLE) * (CAST(dg AS DOUBLE) - 1.0))
      ELSE 0.0 END AS cc
  FROM deg LEFT JOIN tn ON deg.n = tn.n),
a AS (SELECT ${dec6SumSql(q6Sql("cc"))} / count(*) AS avg_cc FROM cc)
SELECT node, degree, tri_n, cc, avg_cc FROM cc, a ORDER BY node"""))

  /** Degree distribution + power-law slope (§2.12 ext) — the first plot
    * anyone makes of a new graph, as a table: node count per degree value
    * on the co-order graph, plus the log-log OLS slope/r² (the power-law
    * exponent estimate — heavy-tail graphs need the skew-aware plans this
    * module uses, and this key measures exactly that tail) cross-joined
    * onto every row.
    *
    * Float discipline: the OLS runs on (ln d, ln count) at DEGREE grain —
    * libm per row, so every sufficient-statistic term quantizes at
    * [[H.q6]] and sums as exact DECIMAL ([[H.dec6Sum]]); the closing
    * slope/r² arithmetic is identical IEEE (the agg_ols_fit closed form).
    *
    * Scale shape: degrees are one node-grain hash agg over the edge list;
    * the distribution and the regression live at DEGREE grain (bounded by
    * max degree, tiny at any corpus size).
    */
  private val graphDegreeStats = Q(
    "graph_degree_stats",
    (s, d) => {
      val e0 = Caches.cache(coOrderArtifact(s, d)._1.select("u", "v"))
      val deg = e0.select(col("u").as("n"))
        .union(e0.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("dg"))
      val dist = Caches.cache(
        deg.groupBy("dg").agg(count(lit(1)).as("n_nodes")))
      val x = log(col("dg").cast("double"))
      val y = log(col("n_nodes").cast("double"))
      val g = dist.agg(
        count(lit(1)).cast("double").as("np"),
        dec6Sum(q6(x)).as("sx"), dec6Sum(q6(y)).as("sy"),
        dec6Sum(q6(x * x)).as("sxx"), dec6Sum(q6(x * y)).as("sxy"),
        dec6Sum(q6(y * y)).as("syy"))
      val vx = col("np") * col("sxx") - col("sx") * col("sx")
      val vy = col("np") * col("syy") - col("sy") * col("sy")
      val cxy = col("np") * col("sxy") - col("sx") * col("sy")
      val fit = g.select(col("np").cast("bigint").as("n_points"),
        (cxy / vx).as("slope"), (cxy * cxy / (vx * vy)).as("r2"))
      dist.crossJoin(broadcast(fit)).orderBy("dg")
    },
    Some(s"""WITH $coOrderSql,
deg AS (SELECT n, count(*) AS dg FROM (
    SELECT u AS n FROM e0 UNION ALL SELECT v AS n FROM e0) GROUP BY 1),
dist AS (SELECT dg, count(*) AS n_nodes FROM deg GROUP BY 1),
g AS (SELECT CAST(count(*) AS DOUBLE) AS np,
    ${dec6SumSql(q6Sql("ln(CAST(dg AS DOUBLE))"))} AS sx,
    ${dec6SumSql(q6Sql("ln(CAST(n_nodes AS DOUBLE))"))} AS sy,
    ${dec6SumSql(q6Sql("ln(CAST(dg AS DOUBLE)) * ln(CAST(dg AS DOUBLE))"))} AS sxx,
    ${dec6SumSql(q6Sql("ln(CAST(dg AS DOUBLE)) * ln(CAST(n_nodes AS DOUBLE))"))} AS sxy,
    ${dec6SumSql(q6Sql("ln(CAST(n_nodes AS DOUBLE)) * ln(CAST(n_nodes AS DOUBLE))"))} AS syy
  FROM dist),
fit AS (SELECT CAST(np AS BIGINT) AS n_points,
    (np * sxy - sx * sy) / (np * sxx - sx * sx) AS slope,
    (np * sxy - sx * sy) * (np * sxy - sx * sy)
      / ((np * sxx - sx * sx) * (np * syy - sy * sy)) AS r2
  FROM g)
SELECT dg, n_nodes, n_points, slope, r2
FROM dist, fit ORDER BY dg"""))

  /** Persisted derived-graph artifact — the llm_ann_index_persist
    * discipline applied to the co-order edge list: derive once, store the
    * artifact bucketed by node ([[graft.api.Graph.writeEdges]]), and run
    * later analytics against the read-back table. The probe here — the
    * out-degree HISTOGRAM — aggregates on the bucket key, so the stored
    * layout answers it with ZERO exchange before the u-grain partial
    * aggregate (PlanSpec pins no shuffle under the first aggregate); the
    * oracle reproduces the same histogram from the raw source, so
    * read-back == direct derivation is the gate.
    *
    * This key PRICES construction: every build drops and re-derives its
    * table AND the [[coOrderOriented]] pair the triangle family reads,
    * under the gate's lock ([[graft.api.Tables.rederive]]), so the eager
    * writes land in the build split of every run (join_bucketed's
    * cold == median policy) and the probe prices separately.
    */
  private val graphEdgesPersist = Q(
    "graph_edges_persist",
    (s, d) => {
      val tbl = Tables.artifactName("graph_edges", d)
      Tables.rederive(s, tbl, Tables.artifactName("coorder_oriented", d),
          Tables.artifactName("coorder_deg", d)) {
        Graph.edgesOrDerive(s, tbl)(capBaskets(coOrderItems(s, d))._1)
        coOrderOriented(s, d)
      }
      Graph.readEdges(s, tbl)
        .groupBy("u").agg(count(lit(1)).as("dg"))
        .groupBy("dg").agg(count(lit(1)).as("n_nodes"))
        .select(col("dg").as("out_degree"), col("n_nodes"))
        .orderBy("out_degree")
    },
    Some(s"""WITH $coOrderSql,
og AS (SELECT u, count(*) AS dg FROM e0 GROUP BY u)
SELECT dg AS out_degree, count(*) AS n_nodes FROM og
GROUP BY dg ORDER BY out_degree"""))

  val all: Seq[Q] =
    Seq(graphPagerank, graphPagerankWeighted, graphTriangles, graphLabelProp,
      graphLabelPropWeighted, graphModularity, graphJaccardSim,
      graphAssocRules, graphBfsHops, graphHarmonicSampled,
      graphBetweennessSampled, graphKcore,
      graphAssortativity,
      graphComponents, graphScc, graphClusteringCoeff, graphDegreeStats,
      graphEdgesPersist)
}
