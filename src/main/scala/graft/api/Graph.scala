package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Parameterized graph-analytics builders over any edge-list DataFrame —
  * the reusable core behind the `graph_*` registry keys (ops/Graphs.scala
  * delegates its plan construction here) and the `graph` stress path.
  * All algorithms are pure DataFrame plans: Pregel-style join+aggregate
  * iterations (PageRank, label propagation) and a degree-ordered wedge
  * join (triangles).
  *
  * Float discipline (ops/core.scala H): PageRank contributions `rank/deg`
  * (or `rank·w/wsum`) quantize to a 1e-6 grain before the neighbor sum,
  * and the quantization happens IN DOUBLE SPACE — `floor(q·1e6 + 0.5)/1e6`
  * — not via a double→DECIMAL cast. The cast forms diverge at rounding
  * boundaries: Spark rounds the double's SHORTEST DECIMAL REPRESENTATION
  * (BigDecimal.valueOf) while DuckDB rounds the EXACT binary value, so a
  * quotient whose shortest repr crosses a .5e-6 boundary its exact value
  * does not (e.g. ...6499999999997 printing as ...65) quantizes
  * differently per engine (the weighted fixture graph has 29 such
  * quotients). The floor form is identical IEEE ops on identical bits in
  * both engines; the subsequent cast of a k/1e6-valued double to
  * DECIMAL(28,6) is unambiguous (< ulp from the boundary). The decimal
  * SUM over the quantized grain stays order-independent exact.
  */
object Graph {

  /** Engine-identical half-up 1e-6 quantization in double space (see the
    * object scaladoc). Delegates to [[graft.ops.H.q6]] — the shared
    * quantization discipline — so the graph and non-graph call sites
    * cannot drift. Pairs with [[q6Sql]] in oracle SQL.
    */
  private def q6(c: org.apache.spark.sql.Column) = graft.ops.H.q6(c)

  /** DuckDB twin of [[q6]] — splice around the same quotient expression. */
  def q6Sql(e: String): String = graft.ops.H.q6Sql(e)

  /** The |V|-grain broadcast GUARD shared by every builder that hints a
    * node-grain state/degree frame ([[bfsHops]], [[kcore]],
    * [[jaccardSimilarity]], [[assortativity]]): an eager approx node-count
    * probe over the edge list (±5 % default accuracy is plenty for a size
    * guard; the partial-aggregated sketch never shuffles edge rows), and
    * the hint only when the WHOLE node set — the ceiling any node-grain
    * frame can reach — is broadcast-range. Beyond `broadcastMaxNodes` the
    * hint is dropped and AQE picks broadcast vs shuffle per join from
    * measured sizes, shuffling at most node-grain frames, never the edges.
    * A forced `broadcast()` is obeyed regardless of measured size — on a
    * node set beyond executor memory it OOMs by construction — so NO graph
    * builder here hints unguarded. The guard is a plan knob, never a
    * semantics knob: either path produces the identical result (GraphsSpec
    * pins hinted == unhinted per builder by forcing
    * `broadcastMaxNodes = 0`).
    *
    * MARGIN: the probe is an ESTIMATE (±~5 % at the default rsd) and
    * the comparison protects against an OOM, so the estimate is derated by
    * [[NodeHintMargin]] (0.8 — covers a 2-sigma estimator miss with room to
    * spare) before the ceiling check: a set probing just under the ceiling
    * must never slip a too-large relation through on estimator error.
    * SIZING the ceiling: a broadcast hash relation costs far more than the
    * 8-byte key — UnsafeRow + BytesToBytesMap overhead lands at ~50–100
    * bytes per node-grain row — so the default `broadcastMaxNodes = 5e6`
    * means a ~250–500 MB relation, sized for the 8–16 GB-executor floor of
    * a production cluster, not for the 8 bytes/node naive arithmetic.
    * Callers on smaller executors pass a lower ceiling.
    */
  private[graft] val NodeHintMargin = 0.8

  /** Scale-ADAPTIVE parallelism guard for the iterative builders' cached
    * edge frames: an edge list read off a few-bucket artifact (8 buckets
    * locally; its symmetric union inherits 16 partitions)
    * under-parallelizes every round's map work on a wider executor fleet —
    * and NO round ever
    * re-spreads it, because broadcast-hinted joins and map-side partial
    * aggregates preserve the input partitioning. Hash-repartition ON THE
    * JOIN KEY (src — no round-robin, so no sort-before-repartition pass
    * and retry-stable assignment) to the session's shuffle-partition
    * setting, but ONLY when the frame is narrower than that setting: at
    * production scale a many-bucket edge table already exceeds it and the
    * guard is a no-op — never a gratuitous full-edge shuffle. Plan knob
    * only: row content is unchanged.
    */
  private def spread(df: DataFrame): DataFrame = {
    val np = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions < np) df.repartition(np, col("src")) else df
  }

  private[graft] def nodeHint(edges: DataFrame,
      broadcastMaxNodes: Long): DataFrame => DataFrame = {
    if (broadcastMaxNodes <= 0L) identity
    else {
      val nNodes = edges
        .select(explode(array(col("src"), col("dst"))).as("n"))
        .agg(approx_count_distinct(col("n")).as("c")).head().getLong(0)
      if (nNodes <= (broadcastMaxNodes * NodeHintMargin).toLong) broadcast
      else identity
    }
  }

  /** The SYMMETRIC directed edge list of an undirected one: every
    * `(u, v[, payload])` row becomes `(src = u, dst = v[, payload])` and
    * `(src = v, dst = u[, payload])` — the input shape of every builder
    * here that names a SYMMETRIC edge list. A projection union, no shuffle.
    */
  def symmetric(e0: DataFrame, payload: Seq[String] = Nil): DataFrame = {
    def dir(a: String, b: String) =
      e0.select(col(a).as("src") +: col(b).as("dst") +: payload.map(col): _*)
    dir("u", "v").union(dir("v", "u"))
  }

  /** PageRank over a SYMMETRIC edge list `edges(src, dst[, w])` — damped
    * (d = 0.85), `iters` fixed rounds of `rank ← 0.15 + 0.85·Σ incoming
    * rank·w/wsum(src)` from a uniform rank of 1. Returns (node, rank). A
    * missing `w` column means uniform weights (w = 1, wsum = out-degree).
    * The caller guarantees symmetry (every node then has outdeg ≥ 1, so no
    * dangling-mass correction is needed).
    *
    * Scale shape: [[rankEdges]] persists the edge list with its out-mass
    * attached via [[Caches]] (`Caches.sweep` when done); each round is ONE
    * src-keyed equi-join + ONE dst-keyed hash aggregate ([[rankRound]]).
    * The rounds fold lazily into one plan of `iters`-bounded depth; the
    * open-ended solver is [[pagerankUntil]], which runs the same round on
    * [[Checkpoints.fixedPoint]].
    */
  def pagerank(edgesIn: DataFrame, iters: Int = 5): DataFrame = {
    require(iters >= 1, s"iters must be positive, got $iters")
    val (edges, rank0, w) = rankEdges(edgesIn)
    (1 to iters).foldLeft(rank0)((rank, _) => rankRound(edges, w)(rank))
  }

  /** Until-convergence PageRank over the [[pagerank]] input: iterates the
    * same round until `max |Δrank| < eps` or `maxIters`, returning
    * (ranks(node, rank), roundsRun). With `eps = 0` it runs exactly
    * `maxIters` rounds and returns the bits of `pagerank(edges, maxIters)`
    * (ApiSpec pins the equality, weighted and unweighted).
    *
    * Weighted edges are the transaction-multiplicity case: derive `w` as
    * the edge's transaction count and rank mass follows trade volume, not
    * mere adjacency.
    *
    * Scale shape: the [[pagerank]] round on [[Checkpoints.fixedPoint]]: the
    * round's ranks are checkpointed (executor-local by default, reliable
    * into `checkpointDir` when rounds must survive executor loss) and the
    * superseded round freed, and one node-grain driver probe joins the two
    * rounds for `max |Δ|`. Reaching `maxIters` is not an error: the ranks
    * of the last round are returned.
    */
  def pagerankUntil(edgesIn: DataFrame, eps: Double = 1e-6,
      maxIters: Int = 40,
      checkpointDir: Option[String] = None): (DataFrame, Int) = {
    require(maxIters >= 1, s"maxIters must be positive, got $maxIters")
    val (edges, rank0, w) = rankEdges(edgesIn)
    // the probe is the state itself: the test joins both rounds, and a
    // NaN delta stops the loop as a converged one does
    def settled(prev: DataFrame, next: DataFrame): Boolean =
      !(next.join(prev.select(col("node"), col("rank").as("prev")), "node")
        .agg(coalesce(max(abs(col("rank") - col("prev"))), lit(0.0)))
        .head().getDouble(0) >= eps)
    val (rank, rounds, _) = Checkpoints.fixedPoint(rank0, maxIters,
      checkpointDir)(identity)(settled)(rankRound(edges, w))
    (rank, rounds)
  }

  /** The PageRank round input: the edge list `(src, dst[, w], wsum)` with
    * each source's out-mass attached once (it is per-round constant, so a
    * round joins rank only), the initial ranks (node, 1.0), and the weight
    * column a round multiplies by. With a `w` column the out-mass is its
    * exact DECIMAL(28,6) sum; without one it is the out-degree and the
    * weight is the literal 1.0, so uniform edges carry no weight column
    * and no decimal sum. Either out-mass is cast to double once per node.
    */
  private def rankEdges(edgesIn: DataFrame): (DataFrame, DataFrame, Column) = {
    val weighted = edgesIn.columns.contains("w")
    val edges = Caches.cache(spread(edgesIn.select(col("src") +: col("dst") +:
      (if (weighted) Seq(col("w").cast("double").as("w")) else Nil): _*)))
    val mass =
      if (weighted) sum(col("w").cast(DecimalType(28, 6))) else count(lit(1))
    val wsum = Caches.cache(edges.groupBy("src")
      .agg(mass.cast("double").as("wsum")))
    (Caches.cache(spread(edges.join(wsum, "src"))),
      wsum.select(col("src").as("node"), lit(1.0).as("rank")),
      if (weighted) col("w") else lit(1.0))
  }

  /** One PageRank round over [[rankEdges]]: each contribution
    * `rank·w/wsum` quantizes to the 1e-6 grain ([[q6]]) and sums as exact
    * decimal. Under uniform weights `rank·1.0/wsum` has the bits of
    * `rank/deg`: the product is exact and wsum is an exact integer.
    */
  private def rankRound(edges: DataFrame, w: Column)(rank: DataFrame)
      : DataFrame =
    edges
      .join(rank, col("src") === col("node"))
      .select(col("dst"),
        q6(col("rank") * w / col("wsum"))
          .cast(DecimalType(28, 6)).as("c"))
      .groupBy(col("dst").as("node"))
      .agg((lit(0.15) + lit(0.85) * sum(col("c")).cast("double")).as("rank"))

  /** Synchronous label propagation over a SYMMETRIC edge list
    * `edges(src, dst)` — every node starts labeled with its own id; each
    * round it adopts its neighbors' most frequent label, ties broken by the
    * SMALLEST label (fully deterministic, so the rounds unroll into an
    * oracle-checkable SQL chain). Returns (node, label) after `iters`
    * rounds; nodes sharing a label are one community.
    *
    * Scale shape: per round TWO hash aggregates — (node, label) neighbor
    * counts, then the argmax picked by `max(struct(cnt, −label))`, a pure
    * aggregate with map-side partial combine rather than a per-node window
    * sort (a hub's frequency table never funnels through one sorted
    * partition). The edge frame persists via [[Caches]] (read `iters`×).
    * Bounded unroll, like [[pagerank]]: plan depth is fixed; labels are
    * node ids, so `−label` stays in long range whenever ids do.
    */
  def labelPropagation(edgesIn: DataFrame, iters: Int = 4): DataFrame =
    labelPropagationWeighted(
      edgesIn.select(col("src"), col("dst"), lit(1L).as("w")), iters)

  /** WEIGHTED label propagation over a SYMMETRIC weighted edge list
    * `edges(src, dst, w)` — the votes are `sum(w)` instead of neighbor
    * counts, so a node follows its HEAVIEST neighborhood (transaction
    * multiplicity, co-occurrence counts), not its most numerous one — the
    * same signal upgrade pagerankUntil's weights give the rank solver.
    * Ties still break on the SMALLEST label; with INTEGER weights every
    * vote is exact, so the rounds stay fully deterministic and unroll
    * into the oracle's SQL chain. `w = 1` reduces to [[labelPropagation]]
    * exactly (sum(1) == count — ApiSpec pins the equality), which is why
    * the unweighted builder is this one applied to a unit weight.
    *
    * Scale shape: identical to the unweighted form — per round two
    * map-side-combinable hash aggregates, no per-node window sort.
    */
  def labelPropagationWeighted(edgesIn: DataFrame, iters: Int = 4): DataFrame = {
    require(iters >= 1, s"iters must be positive, got $iters")
    val edges = Caches.cache(spread(
      edgesIn.select(col("src"), col("dst"), col("w"))))
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to iters) {
      val cnts = edges.join(labels, col("src") === col("node"))
        .groupBy(col("dst"), col("label"))
        .agg(sum(col("w")).as("cnt"))
      labels = cnts
        .groupBy(col("dst").as("node"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("label"))
    }
    labels.select(col("node"), col("label"))
  }

  /** Strongly connected components of a DIRECTED edge list `edges(src,
    * dst)` — exact SCC membership `(node, scc)` with `scc` = the
    * component's smallest node id. Phased min-label decomposition:
    *
    *  0. TRIM (the FW-BW-Trim step): nodes with no remaining in-edges or
    *     no remaining out-edges cannot lie on a cycle — they are singleton
    *     SCCs, assigned IN BULK (all current sources and sinks per round)
    *     without a min-reach fixpoint. Iterated before every phase to a
    *     bounded best-effort fixpoint: on DAG-heavy graphs (and an
    *     id-decreasing chain, which would otherwise cost one full phase
    *     per node) trimming dissolves most of the graph in a few cheap
    *     rounds; whatever survives is cyclic and proceeds to the phases.
    *     Trim rounds are capped at maxRounds and the cap is NOT a refusal
    *     — an untrimmed remainder is simply handled by the exact phases.
    *  1. FORWARD MIN-REACH to fixpoint: `f(v) = min{id(u) : v ⇝ u}`,
    *     computed by pull rounds (`f(v) ← min(f(v), min over v→w of
    *     f(w))`) — O(directed diameter) rounds: the label wave moves one
    *     hop per round, and unlike undirected CC there is no valid
    *     pointer-jump (a node's label is its own id until the wave
    *     arrives, so f∘f has nothing to jump through). f is per-node
    *     non-increasing, so the exact label sum ([[Checkpoints.exactSum]])
    *     is unchanged only at the fixpoint.
    *  2. EXTRACT: every class representative m (f(m) = m — each class
    *     has one: f(v) = m implies m is a node with f(m) = m) marks its
    *     forward closure RESTRICTED to its own class; the marked set is
    *     EXACTLY SCC(m): membership f(v) = m gives v ⇝ m, the mark gives
    *     m ⇝ v, and every intermediate node of an m→v path with
    *     v ∈ SCC(m) is itself in SCC(m) (it reaches m through v and is
    *     reached from m), so the class-restricted propagation loses no
    *     member — and it keeps per-node mark state at one row. The mark
    *     set only grows, so its count is unchanged only at the fixpoint.
    *  3. Assigned nodes and their edges drop out; remaining nodes (class
    *     members the representative could not reach) repeat. Each phase
    *     assigns at least every current representative, so the phase
    *     count is bounded and small in practice (dense fixtures: 1-2).
    *
    * Determinism: min/distinct throughout — no tie-breaks, no floats.
    * Bounded-round REFUSAL contract: a phase whose min-reach or mark loop
    * fails to converge within `maxRounds`, or a decomposition needing more
    * than `maxPhases` phases, throws with the exact knob to raise — an
    * unconverged SCC silently merges or splits components, so it must
    * never return.
    *
    * Scale shape: per round one edge⋈label join + node-grain hash
    * aggregate — map-side combinable, no windows, nothing quadratic. The
    * min-reach and mark loops run on [[Checkpoints.fixedPoint]] (one
    * checkpoint + one probe per round, the superseded round freed); local
    * blocks by default, reliable files under `checkpointDir` on
    * preemptible executors. Only the assigned frames' blocks outlive the
    * call: they back the result. The DuckDB oracle in the fixture key
    * computes the same components via recursive all-pairs reachability —
    * fixture-scale only; THIS decomposition is the 100 TB path.
    */
  def stronglyConnected(edgesIn: DataFrame, maxRounds: Int = 40,
      maxPhases: Int = 8, checkpointDir: Option[String] = None): DataFrame =
    stronglyConnectedWithStats(edgesIn, maxRounds, maxPhases, checkpointDir)._1

  /** [[stronglyConnected]] plus the measured decomposition counters
    * (phases, trim/reach/mark rounds) that the Stress harness records; the
    * public entry point discards them.
    */
  private[graft] def stronglyConnectedWithStats(edgesIn: DataFrame,
      maxRounds: Int = 40, maxPhases: Int = 8,
      checkpointDir: Option[String] = None): (DataFrame, Map[String, Long]) = {
    require(maxRounds >= 1 && maxPhases >= 1,
      s"maxRounds/maxPhases must be positive, got $maxRounds/$maxPhases")
    var statTrim = 0L; var statReach = 0L; var statMark = 0L
    def cpT(df: DataFrame) = Checkpoints.tracked(df, checkpointDir)
    var edges = cpT(edgesIn.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    // node set from the UNFILTERED list: a node whose only incident edges
    // are self-loops must surface as its own singleton SCC, not vanish
    // with the dropped loops
    var nodes = cpT(
      edgesIn.select(col("src").as("id"))
        .union(edgesIn.select(col("dst").as("id")))
        .filter(col("id").isNotNull).distinct())
    // drop the assigned nodes `done(id)` and their edges
    def dropAssigned(done: DataFrame): Unit = {
      val restNodes = cpT(nodes.join(done, Seq("id"), "left_anti"))
      val restEdges = cpT(edges
        .join(restNodes.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(restNodes.select(col("id").as("dst")), Seq("dst"), "left_semi"))
      Checkpoints.free(nodes); Checkpoints.free(edges)
      nodes = restNodes
      edges = restEdges
    }
    val assigned = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var remaining = Checkpoints.exactCount(nodes)
    var phase = 0
    while (remaining > 0) {
      // 0. TRIM: every current source/sink is a singleton SCC — assign in
      // bulk, drop, repeat (bounded; the cap just ends trimming — the
      // phases below are exact with or without it)
      var trimRound = 0
      var trimming = true
      while (trimming && trimRound < maxRounds && remaining > 0) {
        trimRound += 1
        // checkpoint FIRST, count the materialized frame: a productive
        // round's anti-joins run once, not twice; the terminal round's
        // empty checkpoint frees immediately
        val trivial = cpT(
          nodes.join(edges.select(col("dst").as("id")), Seq("id"), "left_anti")
            .unionByName(
              nodes.join(edges.select(col("src").as("id")), Seq("id"), "left_anti"))
            .distinct())
        val nTrivial = Checkpoints.exactCount(trivial)
        if (nTrivial == 0) { trimming = false; Checkpoints.free(trivial) }
        else {
          statTrim += 1
          // trivial's blocks back the RESULT — never freed
          assigned += trivial.select(col("id").as("node"), col("id").as("scc"))
          dropAssigned(trivial)
          remaining -= nTrivial
        }
      }
      if (remaining > 0) {
        phase += 1
        require(phase <= maxPhases,
          s"stronglyConnected needed more than maxPhases $maxPhases phases " +
            s"($remaining nodes still unassigned) — raise maxPhases")
        // 1. forward min-reach to fixpoint (pull rounds)
        val (f, reachRounds, reached) = Checkpoints.fixedPoint(
            nodes.withColumn("f", col("id")), maxRounds, checkpointDir)(
            Checkpoints.exactSum("f"))(_ == _) { f =>
          val pulled = edges
            .join(f.select(col("id").as("dst"), col("f").as("fw")), "dst")
            .groupBy(col("src").as("id")).agg(min(col("fw")).as("nm"))
          f.join(pulled, Seq("id"), "left")
            .select(col("id"),
              least(col("f"), coalesce(col("nm"), col("f"))).as("f"))
        }
        statReach += reachRounds
        require(reached,
          s"forward min-reach did not converge within maxRounds $maxRounds " +
            "— raise maxRounds (rounds scale with the directed diameter)")
        // 2. class-restricted forward marks from the representatives; each
        // round's new marks are anti-joined against the old ones
        val (marks, markRounds, marked) = Checkpoints.fixedPoint(
            f.filter(col("f") === col("id")), maxRounds, checkpointDir)(
            Checkpoints.exactCount)(_ == _) { marks =>
          marks.unionByName(edges
            .join(marks.select(col("id").as("src"), col("f").as("mf")), "src")
            .select(col("dst").as("id"), col("mf"))
            .join(f, "id").filter(col("f") === col("mf"))
            .select(col("id"), col("f")).distinct()
            .join(marks, Seq("id"), "left_anti"))
        }
        statMark += markRounds
        require(marked,
          s"SCC mark propagation did not converge within maxRounds " +
            s"$maxRounds — raise maxRounds (rounds scale with the largest " +
            "component's internal diameter)")
        assigned += marks.select(col("id").as("node"), col("f").as("scc"))
        // 3. drop the assigned nodes and their edges; next phase
        dropAssigned(marks.select("id"))
        Checkpoints.free(f)
        remaining = Checkpoints.exactCount(nodes)
      }
    }
    Checkpoints.free(nodes); Checkpoints.free(edges)
    val result =
      if (assigned.isEmpty)
        edgesIn.sparkSession.emptyDataFrame
          .withColumn("node", lit(0L)).withColumn("scc", lit(0L)).limit(0)
      else assigned.reduce(_ unionByName _)
    (result, Map("phases" -> phase.toLong, "trim_rounds" -> statTrim,
      "reach_rounds" -> statReach, "mark_rounds" -> statMark))
  }

  /** Newman modularity of a community assignment over a SYMMETRIC edge
    * list — the quality score that tells a user whether their
    * [[labelPropagation]] rounds were enough (the recall-metric
    * discipline the ANN family applies to its blocking heuristics,
    * applied to communities): `Q = Σ_c (L_c/m − (d_c/2m)²)` ∈
    * [−0.5, 1), where m is the undirected edge count, L_c the
    * intra-community undirected edges, and d_c the community's total
    * degree. Q ≈ 0 means the partition is no better than random wiring;
    * well-separated communities score 0.3+.
    *
    * Computed over the DIRECTED symmetric list E = 2m: `L_c/m =
    * in_c/E` (in_c = directed intra-community edges) and `d_c/2m =
    * d_c/E` with d_c = directed out-edges from c, so
    * `Q = (E·Σ_c in_c − Σ_c d_c²) / E²` — ALL-INTEGER numerators from
    * one community-grain pass (E itself is Σ_c d_c). The d_c² products
    * cast their factors to DECIMAL(19,0) first (the assortativity
    * overflow rule: d_c² passes 2⁶³ when one community holds >3B
    * directed edges) and sum exact in DECIMAL(38,0); the closing
    * `E·Σin − Σd²` / `E·E` chain is identical-IEEE double ops on
    * exact-integer casts (bit-exact below 2⁵³; beyond, 1-ulp relative
    * on a unitless score) → emitted RAW (crosses zero, but exact
    * subtraction never produces −0.0 — the agg_ab_test precedent).
    *
    * Returns one row: (n_communities, n_edges_directed, modularity).
    *
    * Scale shape: two NODE-KEYED label joins onto the edge list (labels
    * are |V|-grain — joined, not broadcast), one community-grain hash
    * aggregate, one 5-column global fold. Nothing quadratic, no windows.
    */
  def modularity(edgesIn: DataFrame, labels: DataFrame): DataFrame = {
    val dec19 = DecimalType(19, 0)
    // labels is typically an ITERATIVE plan (the LPA rounds); it feeds BOTH
    // endpoint joins, so without a cache the whole round chain executes
    // twice (graph_modularity measured 40 s uncached, 10 s cached).
    // Registered with Caches for the harness sweep.
    val lab = Caches.cache(labels.select(col("node"), col("label")))
    val e = edgesIn.select(col("src"), col("dst"))
      .join(lab.select(col("node").as("src"), col("label").as("lsrc")), "src")
      .join(lab.select(col("node").as("dst"), col("label").as("ldst")), "dst")
    // ONE pass over the labeled edges: Σ_c in_c·E = E·Σ_c in_c because E is
    // constant, so every term reduces to community-grain sums — no second
    // scan for the total, no broadcast-rejoin
    val perC = e.groupBy("lsrc")
      .agg(count(lit(1)).as("d"),
        sum(when(col("lsrc") === col("ldst"), 1L).otherwise(0L)).as("inc"))
    perC
      .agg(count(lit(1)).as("n_communities"),
        sum(col("d")).as("etot"),
        sum(col("inc")).as("sinc"),
        sum(col("d").cast(dec19) * col("d").cast(dec19)).cast("double")
          .as("sd2"))
      .select(col("n_communities"), col("etot").as("n_edges_directed"),
        ((col("etot").cast("double") * col("sinc").cast("double") - col("sd2"))
          / (col("etot").cast("double") * col("etot").cast("double")))
          .as("modularity"))
  }

  /** Degree-ordering multiplier for [[triangles]]' orientation key
    * `k(n) = deg(n)·KMUL + n` — one long that totally orders nodes by
    * (degree, id) without struct comparison (portable to engines without
    * row-value ordering).
    */
  val KMUL = 1000000000000L

  /** Largest degree the orientation key tolerates: `deg·KMUL + id` must
    * stay under Long.MaxValue (≈9.22e18) for any id < [[KMUL]].
    */
  val MAXDEG = 9200000L

  /** Default [[triangles]]/[[localClustering]] wedge budget: the largest
    * wedge-frame row count the family will generate without an explicit
    * caller override. 4e9 wedges ≈ 64 GB as a 16-byte-row shuffle — the
    * point past which one wedge stage stops being "a big job" and becomes
    * unbounded spill on any realistic executor fleet. A 100 TB operator
    * should refuse predictably with the number, not discover it in a
    * dying shuffle: [[wedgeProbe]] surfaces the EXACT count first (for
    * scale, the sf0.1 co-order graph generates 41M wedges; the STRESS
    * 300k-basket run 5.5e8 — the measured superlinear worst case, still
    * 7× inside the budget).
    */
  val WEDGE_BUDGET = 4000000000L

  /** Degree-ordered compact-forward orientation of an id-ordered
    * UNDIRECTED edge list `e0(u, v)`, `u < v` — the derivation shared by
    * [[triangles]] and [[localClustering]], exposed so the oriented
    * frame can be PERSISTED once per (session, source) and every later
    * triangle-family run can start from the stored table
    * ([[trianglesOriented]] / [[localClusteringOriented]]).
    *
    * Returns `(deg, oriented)`: node-grain degrees `deg(n, dg)` and
    * edge-grain `oriented(lo, hi, khi)` — one row per input edge, each
    * pointing from its lower (degree, id) endpoint to the higher, with
    * `khi = deg(hi)·KMUL + hi` riding along so downstream wedge ordering
    * never re-joins degrees.
    *
    * DERIVATION ONLY, fully lazy: the caller owns caching/persistence and
    * the consuming builders own the eager probes
    * ([[validateOrientation]], [[wedgeProbe]]).
    */
  def orient(e0: DataFrame): (DataFrame, DataFrame) = {
    val deg = e0.select(col("u").as("n"))
      .union(e0.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("dg"))
    val ek = e0
      .join(deg.select(col("n").as("u"),
        (col("dg") * KMUL + col("n")).as("ku")), "u")
      .join(deg.select(col("n").as("v"),
        (col("dg") * KMUL + col("n")).as("kv")), "v")
    val oriented = ek.select(
      when(col("ku") < col("kv"), col("u")).otherwise(col("v")).as("lo"),
      when(col("ku") < col("kv"), col("v")).otherwise(col("u")).as("hi"),
      when(col("ku") < col("kv"), col("kv")).otherwise(col("ku")).as("khi"))
    (deg, oriented)
  }

  /** EAGER PRECONDITION PROBE shared by the triangle family: the
    * single-long orientation key silently mis-orders once `id ≥ KMUL` or
    * `deg > MAXDEG`, so consumers run one bounded driver aggregate over
    * the node-grain degree frame and REFUSE out-of-range inputs instead
    * of miscounting. Cost: one scan of a cached or stored node-grain
    * frame.
    */
  private[graft] def validateOrientation(deg: DataFrame, who: String)
      : Unit = {
    val bounds = deg.agg(coalesce(max(col("n")), lit(0L)).as("mxid"),
      coalesce(max(col("dg")), lit(0L)).as("mxdg")).head()
    require(bounds.getLong(0) < KMUL && bounds.getLong(1) <= MAXDEG,
      s"$who: orientation key needs ids < $KMUL and degrees <= " +
        s"$MAXDEG, got max id ${bounds.getLong(0)}, max degree " +
        s"${bounds.getLong(1)}")
  }

  /** EAGER WEDGE-BUDGET PROBE: ONE aggregate over the oriented edge
    * list returning `(|E|, Σ_lo C(outdeg(lo), 2))` — the second number is
    * the EXACT row count of the wedge frame the triangle family is about
    * to generate, surfaced BEFORE the generation job runs (the
    * `n_capped_orders` discipline applied to the one superlinear stage the
    * STRESS suite found). The same job yields `|E| = Σ outdeg` for free,
    * so the [[edgeHint]] broadcast guard no longer pays its own count.
    * Over a [[writeEdges]]-persisted oriented artifact (bucketed by the
    * low endpoint) the `groupBy(lo)` is exchange-free.
    *
    * OVERFLOW-SAFE: the Σ od·(od−1) accumulator runs in
    * DECIMAL(38,0) — each factor cast to DECIMAL(19,0) first, the
    * assortativity product rule, exact to 10³⁸ — because a plain long sum
    * wraps silently in non-ANSI mode, and a guard that wraps to a small
    * value in exactly its target regime (≥ ~10¹⁸ wedges) self-defeats. A
    * total past Long range is refused here with the decimal count: it is
    * over ANY representable budget by construction.
    */
  private[graft] def wedgeProbe(oriented: DataFrame): (Long, Long) = {
    val dec19 = DecimalType(19, 0)
    val r = oriented.groupBy("lo").agg(count(lit(1)).as("od"))
      .agg(coalesce(sum(col("od")), lit(0L)).as("ne"),
        coalesce(sum(col("od").cast(dec19) * (col("od") - lit(1L)).cast(dec19)),
          lit(0L).cast(DecimalType(38, 0))).as("nw2"))
      .head()
    val nw2 = r.getDecimal(1)
    require(nw2.compareTo(java.math.BigDecimal.valueOf(Long.MaxValue)) <= 0,
      s"wedgeProbe: the wedge frame would be ${nw2.toBigInteger}/2 rows — " +
        "beyond Long range and over any representable wedgeBudget; cap or " +
        "sample the edge list before the triangle family touches it.")
    (r.getLong(0), nw2.longValueExact() / 2)
  }

  /** Refuses a wedge generation whose exact row count (from
    * [[wedgeProbe]]) exceeds the budget — fail fast WITH the number, the
    * predictable-refusal contract a 100 TB operator owes its caller.
    */
  private def requireWedgeBudget(who: String, nWedges: Long,
      wedgeBudget: Long): Unit =
    require(wedgeBudget <= 0L || nWedges <= wedgeBudget,
      s"$who: the wedge frame would be $nWedges rows (exact Σ C(outdeg, 2)" +
        s" over the oriented edge list), over the wedgeBudget $wedgeBudget" +
        ". A frame this size spills unboundedly instead of finishing: " +
        "lower the ingestion basket/adjacency cap, sample the edge list, " +
        "or re-run with an explicit higher wedgeBudget (<= 0 disables).")

  /** Triangle count over an UNDIRECTED edge list given as distinct
    * id-ordered pairs `e0(u, v)` with `u < v` — compact-forward
    * degree-ordered orientation: every edge points from its lower
    * (degree, id) endpoint to the higher, wedges enumerate ordered
    * out-neighbor pairs per low node, and a wedge is a triangle iff its
    * closing pair is itself an oriented edge. Returns one row
    * (n_nodes, n_edges, n_triangles).
    *
    * The orientation bounds out-degrees by O(√m) on ANY graph (arboricity),
    * so the wedge self-join fans out per node by the square root of what a
    * naive adjacency join does on a skewed graph — a hub's edges nearly all
    * point INTO it. The edge frame persists via [[Caches]] (read for
    * degrees, orientation, wedges, and the closing probe) —
    * `Caches.sweep` when done.
    *
    * EAGER PROBES: [[validateOrientation]] (refuse `id ≥ KMUL` /
    * `deg > MAXDEG` instead of miscounting) then [[wedgeProbe]] — one
    * aggregate over the oriented list that yields the EXACT wedge-frame
    * row count (refused above `wedgeBudget` with the number — see
    * [[WEDGE_BUDGET]]) and `|E|` for the broadcast guard in the same job.
    *
    * EDGE-GRAIN BROADCAST GUARD: the wedge frame is the one stage
    * that dwarfs everything (Σ outdeg² rows — 41M at the sf0.1 fixture's
    * 1.2M edges), and the default plan SHUFFLES it twice: once into the
    * wedge self-join, once into the closing-edge probe. When the ORIENTED
    * edge list itself is broadcast-range (`broadcastMaxEdges`, fed by
    * [[wedgeProbe]]'s exact `|E|` — edges are NOT node-grain, so this
    * needs its own ceiling, not [[nodeHint]]'s), both joins hint
    * the edge side instead: wedges are then GENERATED and CLOSED map-side
    * in a single pass over the oriented scan, and the only shuffle left is
    * the 1-row count aggregate. Beyond the ceiling (a 100 TB graph's edge
    * list is nothing like broadcastable) the hint drops and the original
    * shuffled equi-joins stand. Either path is result-identical
    * (GraphsSpec pins hinted == unhinted) — a plan knob, never semantics.
    */
  def triangles(e0In: DataFrame,
      broadcastMaxEdges: Long = 5000000L,
      wedgeBudget: Long = WEDGE_BUDGET): DataFrame = {
    val e0 = Caches.cache(e0In.select(col("u"), col("v")))
    val (deg, orientedRaw) = orient(e0)
    trianglesOriented(Caches.cache(deg), Caches.cache(orientedRaw),
      broadcastMaxEdges, wedgeBudget)
  }

  /** [[triangles]] from a PRE-ORIENTED edge list — the consumer half of
    * the [[orient]] split, for callers that persisted the oriented frame
    * (+ node-grain degrees) as a session artifact and amortize the
    * orientation join across runs. `deg(n, dg)` and `oriented(lo, hi,
    * khi)` must come from [[orient]] over the same edge list (or its
    * stored read-back — GraphsSpec pins artifact == derived). Both eager
    * probes still run here — over the stored tables they cost two tiny
    * aggregates (the `groupBy(lo)` is exchange-free on a bucketed-by-lo
    * artifact), so a stale or hand-built input is refused exactly like a
    * fresh derivation would be.
    */
  def trianglesOriented(deg: DataFrame, oriented: DataFrame,
      broadcastMaxEdges: Long = 5000000L,
      wedgeBudget: Long = WEDGE_BUDGET): DataFrame = {
    validateOrientation(deg, "triangles")
    val (nEdges, nWedges) = wedgeProbe(oriented)
    requireWedgeBudget("triangles", nWedges, wedgeBudget)
    val hinted = edgeHint(nEdges, broadcastMaxEdges)
    val tri = wedgeStream(oriented).join(
      hinted(oriented.select(col("lo").as("wu"), col("hi").as("wv"))),
      Seq("wu", "wv"))
      .agg(count(lit(1)).as("n_triangles"))
    deg.agg(count(lit(1)).as("n_nodes"))
      .withColumn("n_edges", lit(nEdges))
      .crossJoin(tri)
  }

  /** The ordered wedge stream (lo, wu, wv) — every ordered out-neighbor
    * pair (by khi) of each low node — generated MAP-SIDE from per-node
    * sorted adjacency arrays, no oriented⋈oriented self-join (the same
    * generator shape as the co-order basket pairs,
    * `graft.ops.Graphs.basketPairs`). One groupBy(lo) — EXCHANGE-FREE over a
    * writeEdges artifact bucketed by lo — collects each node's
    * khi-sorted out-neighbors; two chained explodes then emit the pairs:
    * the outer picks the wedge's earlier endpoint by position, the inner
    * slices the strictly-later neighbors, so per-output-row state is
    * O(outdeg), never the C(outdeg, 2) pair array. Per-group array
    * length is the orientation's out-degree — O(√m) by the arboricity
    * bound, and ≤ √(2·wedgeBudget) whenever the caller's budget probe
    * passed (the probe runs BEFORE this stream is consumed), so the
    * collected arrays are bounded by the same contract that bounds the
    * wedge frame itself. Row count and content are IDENTICAL to the
    * self-join form (x.khi < y.khi ⇔ earlier position in the khi-sorted
    * array); khi embeds the node id, so the struct sort is total and
    * deterministic.
    */
  private def wedgeStream(oriented: DataFrame): DataFrame = {
    val adj = oriented.groupBy("lo")
      .agg(expr("transform(sort_array(collect_list(struct(khi, hi))), x -> x.hi)")
        .as("ns"))
    // explicit node-keyed repartition of the ADJACENCY frame (node-grain,
    // Σ|ns| = |E| elements — the cheapest thing on this path to shuffle)
    // before the superlinear explode: the grouped frame otherwise inherits
    // the artifact's bucket-file partitioning (8 tasks on a local[32]
    // bench; one task per bucket at any scale), and AQE cannot split a
    // map stage whose INPUT is small but whose generate output is the
    // wedge frame (the §2.5 explode-amplification blind spot — AQE
    // coalescing targets input bytes, so an implicit repartition would be
    // coalesced back down). The partition count comes from the session's
    // shuffle-partitions conf, not a local constant.
    val np = oriented.sparkSession.sessionState.conf.numShufflePartitions
    adj.repartition(np, col("lo"))
      .select(col("lo"), col("ns"), posexplode(col("ns")).as(Seq("i", "wu")))
      .select(col("lo"), col("wu"),
        explode(slice(col("ns"), col("i") + lit(2), size(col("ns")))).as("wv"))
  }

  /** |E|-grain broadcast guard for the triangle family's wedge joins —
    * the [[nodeHint]] discipline with an EDGE ceiling, fed the exact edge
    * count [[wedgeProbe]] already paid for (no count job of its own): the
    * hint only when the whole edge list is
    * broadcast-range. Default 5e6 edges ≈ 120 MB as a hash relation
    * (24 bytes/row payload, ~2× map overhead) — executor-safe at
    * the 8–16 GB floor; callers on smaller executors lower it, and a
    * corpus-scale graph always exceeds it, falling back to the shuffled
    * equi-joins.
    */
  private[graft] def edgeHint(nEdges: Long,
      broadcastMaxEdges: Long): DataFrame => DataFrame =
    if (broadcastMaxEdges > 0L && nEdges <= broadcastMaxEdges) broadcast
    else identity

  /** Per-node local clustering coefficient over the same id-ordered
    * undirected edge list `e0(u, v)`, `u < v`, as [[triangles]]: for each
    * node, `cc = 2·t / (deg·(deg−1))` where `t` is the number of triangles
    * through it (0 for degree-<2 nodes). Same compact-forward orientation
    * and eager probes (bounds + wedge budget) as [[triangles]] — the only
    * difference is that each closed wedge is attributed to its THREE
    * corners (the wedge center `lo` plus both endpoints) instead of
    * globally counted, one extra node-grain hash agg.
    *
    * Returns node-grain rows (node, degree, tri_n, cc). Float discipline:
    * cc is one double division of exact integers — identical IEEE in any
    * engine → RAW. The wedge joins ride the same [[edgeHint]]-guarded
    * broadcast as [[triangles]] — map-side wedge generation + close
    * while the oriented list is broadcast-range, shuffled equi-joins
    * beyond it.
    */
  def localClustering(e0In: DataFrame,
      broadcastMaxEdges: Long = 5000000L,
      wedgeBudget: Long = WEDGE_BUDGET): DataFrame = {
    val e0 = Caches.cache(e0In.select(col("u"), col("v")))
    val (deg, orientedRaw) = orient(e0)
    localClusteringOriented(Caches.cache(deg), Caches.cache(orientedRaw),
      broadcastMaxEdges, wedgeBudget)
  }

  /** [[localClustering]] from a PRE-ORIENTED edge list — the
    * [[trianglesOriented]] twin: same `(deg, oriented)` contract from
    * [[orient]] (or its persisted read-back), same eager probes, node-
    * grain result unchanged. The closing `deg` join rides whatever
    * physical layout the caller stored the degree frame in.
    */
  def localClusteringOriented(deg: DataFrame, oriented: DataFrame,
      broadcastMaxEdges: Long = 5000000L,
      wedgeBudget: Long = WEDGE_BUDGET): DataFrame = {
    validateOrientation(deg, "localClustering")
    val (nEdges, nWedges) = wedgeProbe(oriented)
    requireWedgeBudget("localClustering", nWedges, wedgeBudget)
    val hinted = edgeHint(nEdges, broadcastMaxEdges)
    // the same map-side [[wedgeStream]] as trianglesOriented (one grouped
    // pass, no self-join), keeping the wedge center for corner attribution
    val closed = wedgeStream(oriented).withColumnRenamed("lo", "ctr").join(
      hinted(oriented.select(col("lo").as("wu"), col("hi").as("wv"))),
      Seq("wu", "wv"))
    // ONE pass over the closed wedges: a 3-branch union would re-execute
    // the wedge join per corner (the graph_modularity multi-consumer
    // lesson) — explode emits the three corners from a single traversal
    val triNode = closed
      .select(explode(array(col("ctr"), col("wu"), col("wv"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("tri_n"))
    deg.join(triNode, Seq("n"), "left_outer")
      .select(col("n").as("node"), col("dg").as("degree"),
        coalesce(col("tri_n"), lit(0L)).as("tri_n"),
        when(col("dg") >= 2,
          lit(2.0) * coalesce(col("tri_n"), lit(0L)).cast("double") /
            (col("dg").cast("double") * (col("dg").cast("double") - lit(1.0))))
          .otherwise(lit(0.0)).as("cc"))
  }

  /** Single-source BFS hop counts over a SYMMETRIC edge list
    * `edges(src, dst)` — (node, hop) for every node within `maxHops` of
    * `source` (hop 0 = the source itself): [[multiBfsHops]] with one
    * source, so the two cannot drift apart.
    */
  def bfsHops(edgesIn: DataFrame, source: Long, maxHops: Int,
      broadcastMaxNodes: Long = 5000000L): DataFrame =
    multiBfsHops(edgesIn, Seq(source), maxHops, broadcastMaxNodes)
      .select("node", "hop")

  /** Multi-source BFS hop counts over a SYMMETRIC edge list
    * `edges(src, dst)` — (source, node, hop) for every node within
    * `maxHops` of each source, in ONE pass over a bounded PROBE SET: state
    * is (bsrc, node, hop) at (source × node) grain, every source's
    * frontier expanding independently under the same per-round plan. For
    * k sources this is ONE solver run with k× state instead of k solver
    * runs with k× plan/scan overhead — the shape sampled centrality
    * estimators need (BFS from a handful of probes, never all-pairs).
    * Bounded-depth unroll: the frontier expands one hop per round and
    * already-visited (source, node) pairs are anti-joined away, so each
    * node appears once per source at its SHORTEST hop distance
    * (frontier-BFS invariant — deterministic, no tie-breaking). A source
    * with no edges yields its hop-0 row only.
    *
    * Scale shape: per round ONE src-keyed equi-join (edges ⋈ frontier) +
    * one distinct + one (bsrc, node)-keyed LEFT ANTI join against the
    * visited set — the Pregel BFS step. Frontier and visited frames persist
    * via [[Caches]] (visited is re-read by every later round's anti-join);
    * bounded `maxHops` keeps plan depth fixed. Both state frames GROW
    * monotonically toward k×|V| (on a hub graph hop 2 is most of it), so
    * their broadcast hints are GUARDED by [[nodeHint]]'s eager node-count
    * probe: only when the whole node set is broadcast-range do the state
    * sides carry the hint; beyond it AQE picks broadcast vs shuffle per
    * round from measured sizes, shuffling at most the state, never the
    * edge list. A caller with a large probe set lowers `broadcastMaxNodes`
    * to keep k·|V| broadcast-safe. Either path produces the identical
    * result (GraphsSpec pins hinted == unhinted).
    */
  def multiBfsHops(edgesIn: DataFrame, sources: Seq[Long], maxHops: Int,
      broadcastMaxNodes: Long = 5000000L): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    require(sources.nonEmpty, "multiBfsHops needs at least one source")
    // an ALREADY-persisted input (betweennessSampled passes its own cached
    // projection) reads through its existing blocks — re-caching the
    // projection would materialize a second copy of the largest input
    // frame
    val edges =
      if (edgesIn.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
        edgesIn.select(col("src"), col("dst"))
      else Caches.cache(edgesIn.select(col("src"), col("dst")))
    val spark = edgesIn.sparkSession
    val hinted = nodeHint(edges, broadcastMaxNodes)
    import spark.implicits._
    // a repeated source would duplicate its whole (source, node, hop) slice
    // (hop-0 outright, later rounds by union) — state is per DISTINCT source
    var frontier = Caches.cache(sources.distinct.toDF("bsrc")
      .select(col("bsrc"), col("bsrc").as("node"), lit(0).as("hop")))
    var visited = frontier
    for (h <- 1 to maxHops) {
      frontier = Caches.cache(edges
        .join(hinted(frontier.select(col("bsrc"), col("node").as("src"))),
          "src")
        .select(col("bsrc"), col("dst").as("node")).distinct()
        .join(hinted(visited.select("bsrc", "node")),
          Seq("bsrc", "node"), "left_anti")
        .withColumn("hop", lit(h)))
      visited = Caches.cache(visited.union(frontier))
    }
    visited.select(col("bsrc").as("source"), col("node"), col("hop"))
  }

  /** SAMPLED BETWEENNESS CENTRALITY (Brandes-style) over a SYMMETRIC
    * edge list `edges(src, dst)` — the probe-set estimator behind every
    * at-scale betweenness ranking (exact Brandes is Θ(|V|·BFS + |V|·|E|)):
    * BFS from a SMALL `sources` set bounded at `maxHops`, count shortest
    * paths σ per level forward, then accumulate dependencies
    * `δ(v) = Σ_{w ∈ succ(v)} σ(v)/σ(w) · (1 + δ(w))` backward — each
    * node's bc estimate is Σ over sources of its δ (the interior-node
    * share of sampled shortest paths). Returns (node, n_sources, bc) for
    * every node reached at hop ≥ 1, where n_sources counts the probes
    * that reached it.
    *
    * Scale shape: ONE [[multiBfsHops]] pass gives (source, node, hop)
    * state at k×|V| grain; the per-source shortest-path DAG is two
    * node-keyed joins of the edge list against that state (≤ k×|E| rows);
    * σ levels unroll forward (`maxHops` bounded — one (source, dst)-keyed
    * hash aggregate each) and δ levels backward (one join + one hash
    * aggregate each). No windows, no cartesian products, no driver state
    * beyond the loop counters.
    *
    * EAGER, checkpoint-per-stage (the [[pagerankUntil]]/CC discipline):
    * hops, the DAG, and every σ/δ level truncate lineage via
    * [[Checkpoints]] — each level references the DAG and the two
    * adjacent levels, so a lazy unroll COMPOUNDS the sub-plans
    * exponentially in maxHops and dies in the optimizer long before the
    * cluster notices (measured: a 5-node path at maxHops = 4 hung the
    * analyzer for minutes; checkpointed it plans in milliseconds).
    * `checkpointDir = None` → executor-local blocks (local-mode default);
    * a cluster run on preemptible executors passes a reliable dir — the
    * [[Checkpoints]] durability knob.
    *
    * Float discipline: σ are exact longs (budget: σ ≤ deg^maxHops — past
    * 2⁶³ a deeper radius needs log-space, far beyond any 3-hop probe);
    * each δ term `σv/σw · (1 + δw)` is identical spelled-order IEEE on
    * identical bits in any engine, quantized at the 1e-6 grain ([[q6]])
    * and summed as exact DECIMAL — order-independent across Spark's and
    * DuckDB's aggregation orders (the PageRank discipline); the
    * cross-source bc sum re-quantizes the per-source δ the same way.
    */
  def betweennessSampled(edgesIn: DataFrame, sources: Seq[Long],
      maxHops: Int, broadcastMaxNodes: Long = 5000000L,
      checkpointDir: Option[String] = None): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    // handles for the stage checkpoints whose blocks this function can
    // free ITSELF once the backward pass has materialized everything the
    // returned frame still reads (the pagerankUntil discipline): the DAG
    // (the big one, ≤ k×|E|) and the interior σ levels. hops, σ(maxHops)
    // (δ(maxHops) is a lazy select over it) and the δ levels stay — the
    // returned frame reads them lazily.
    val freeable = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def cp(df: DataFrame): DataFrame = Checkpoints.tracked(df, checkpointDir)
    def cpFreeable(df: DataFrame): DataFrame = {
      val out = cp(df)
      freeable += out
      out
    }
    // no spread() here or in the BFS family: their few light rounds do not
    // repay an up-front edge shuffle (with it, graph_bfs_hops read +1.1 s
    // and graph_betweenness_sampled +1.6 s), unlike kcore/pagerank's
    // heavier round loops
    val edges = Caches.cache(edgesIn.select(col("src"), col("dst")))
    val hops = cp(multiBfsHops(edges, sources, maxHops, broadcastMaxNodes))
    // per-source shortest-path DAG: the edges that advance one hop level
    val dagE = cpFreeable(edges
      .join(hops.select(col("source"), col("node").as("src"),
        col("hop").as("hu")), "src")
      .join(hops.select(col("source"), col("node").as("dst"),
        col("hop").as("hv")), Seq("source", "dst"))
      .filter(col("hv") === col("hu") + 1)
      .select(col("source"), col("src"), col("dst"), col("hu")))
    // forward: σ per level (σ(level 0) = 1 at each source)
    // each level is an eager checkpoint: lazy Caches.cache levels (fewer
    // barrier jobs) measured slower on graph_betweenness_sampled, median
    // 9.3 s vs 6.2 s
    val sigma = new Array[DataFrame](maxHops + 1)
    sigma(0) = cpFreeable(hops.filter(col("hop") === 0)
      .select(col("source"), col("node"), lit(1L).as("sigma")))
    for (h <- 1 to maxHops)
      sigma(h) = (if (h == maxHops) cp _ else cpFreeable _)(
        dagE.filter(col("hu") === h - 1)
        .join(sigma(h - 1).select(col("source"), col("node").as("src"),
          col("sigma").as("su")), Seq("source", "src"))
        .groupBy(col("source"), col("dst").as("node"))
        .agg(sum(col("su")).as("sigma")))
    // backward: δ per level (δ(level maxHops) = 0); a node with no
    // successors keeps δ = 0 via the left join's coalesce
    val delta = new Array[DataFrame](maxHops + 1)
    delta(maxHops) = sigma(maxHops)
      .select(col("source"), col("node"), lit(0.0).as("delta"))
    for (h <- (maxHops - 1) to 1 by -1)
      delta(h) = cp(dagE.filter(col("hu") === h)
        .join(sigma(h).select(col("source"), col("node").as("src"),
          col("sigma").as("su")), Seq("source", "src"))
        .join(sigma(h + 1)
          .join(delta(h + 1), Seq("source", "node"), "left")
          .select(col("source"), col("node").as("dst"),
            col("sigma").as("sv"),
            coalesce(col("delta"), lit(0.0)).as("dv")),
          Seq("source", "dst"))
        .select(col("source"), col("src").as("node"),
          q6(col("su").cast("double") / col("sv").cast("double")
            * (lit(1.0) + col("dv"))).as("term"))
        .groupBy(col("source"), col("node"))
        .agg(graft.ops.H.dec6Sum(col("term")).as("delta")))
    // every δ level is materialized: the DAG and interior σ blocks are no
    // longer reachable from anything the returned frame reads — free them
    freeable.foreach(Checkpoints.free)
    val deltas = (1 to maxHops).map(delta(_)).reduce(_ unionByName _)
    hops.filter(col("hop") > 0)
      .join(deltas, Seq("source", "node"), "left")
      .groupBy("node")
      .agg(count(lit(1)).as("n_sources"),
        graft.ops.H.dec6Sum(q6(coalesce(col("delta"), lit(0.0)))).as("bc"))
  }

  /** k-core peel over a SYMMETRIC edge list `edges(src, dst)` — at most
    * `rounds` synchronous peel iterations (each removes every node whose
    * degree in the surviving subgraph is < k), returning (node, coredeg) for
    * the survivors with their degree in the FINAL surviving subgraph. With
    * enough rounds this is the k-core; a bounded unroll is the per-round
    * trajectory prefix (deterministic either way — peeling has no order
    * dependence when rounds are synchronous, unlike sequential
    * min-degree peeling). It is [[kcoreUntil]] capped at `rounds`: a peel
    * that removes nothing has reached its fixed point, so stopping there
    * returns the same survivors as running the remaining rounds.
    *
    * Scale shape: per round, the edge list is restricted to surviving
    * endpoints by TWO semi-join-shaped inner joins against the NODE-grain
    * alive set and one map-side-combinable hash aggregate recomputes
    * degrees — the edge list is read in place every round, never
    * reshuffled. The alive-set hints are GUARDED by [[nodeHint]]'s eager
    * node-count probe (8 bytes/node fits an executor for any
    * basket/co-occurrence graph, and the alive set only SHRINKS from the
    * probed ceiling — so the guard is conservative-correct per round);
    * beyond `broadcastMaxNodes` the hints drop and AQE shuffles the
    * node-grain alive set, never the edges. GraphsSpec pins hinted ==
    * unhinted.
    */
  def kcore(edgesIn: DataFrame, k: Int, rounds: Int,
      broadcastMaxNodes: Long = 5000000L): DataFrame =
    kcoreUntil(edgesIn, k, rounds, broadcastMaxNodes)._1

  /** One synchronous peel: the alive nodes whose degree among alive nodes
    * is at least `k`.
    */
  private def peelRound(edges: DataFrame, hinted: DataFrame => DataFrame,
      k: Int)(alive: DataFrame): DataFrame =
    aliveDegrees(edges, hinted, alive).filter(col("coredeg") >= k).select("node")

  /** (node, coredeg): each alive node's degree among alive nodes. */
  private def aliveDegrees(edges: DataFrame, hinted: DataFrame => DataFrame,
      alive: DataFrame): DataFrame =
    edges
      .join(hinted(alive.select(col("node").as("src"))), "src")
      .join(hinted(alive.select(col("node").as("dst"))), "dst")
      .groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("coredeg"))

  /** Open-ended k-core peel: synchronous deg≥k rounds until a round
    * removes nothing, returning (survivors with their in-core degree,
    * executed rounds). The converged result is the true k-core (every
    * survivor's degree among survivors is ≥ k — GraphsSpec asserts it
    * directly). Reaching `maxRounds` is not an error: the survivors of the
    * last round are returned, the trajectory prefix [[kcore]] names.
    *
    * Scale shape: the per-round plan of [[kcore]] (edges restricted by two
    * [[nodeHint]]-guarded node-grain semi-joins + one map-side-combinable
    * degree aggregate; the edge list is never reshuffled), run on
    * [[Checkpoints.fixedPoint]]: each round's alive set is checkpointed,
    * which keeps plan depth CONSTANT at unbounded round counts, and the
    * previous round's blocks free as soon as the next lands. The alive set
    * only shrinks, so one count per round detects the fixpoint.
    */
  def kcoreUntil(edgesIn: DataFrame, k: Int, maxRounds: Int = 100,
      broadcastMaxNodes: Long = 5000000L,
      checkpointDir: Option[String] = None): (DataFrame, Int) = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val edges = Caches.cache(spread(edgesIn.select(col("src"), col("dst"))))
    val hinted = nodeHint(edges, broadcastMaxNodes)
    val (alive, rounds, _) = Checkpoints.fixedPoint(
        edges.select(col("src").as("node")).distinct(), maxRounds,
        checkpointDir)(Checkpoints.exactCount)(_ == _)(peelRound(edges, hinted, k))
    (aliveDegrees(edges, hinted, alive), rounds)
  }

  /** Neighborhood-Jaccard node similarity over a SYMMETRIC edge list
    * `edges(src, dst)` — "items whose co-occurrence neighborhoods overlap"
    * (the item-item similarity of market-basket analysis, and the graph
    * flavor of near-dup blocking). Works on the CAPPED graph: every node
    * keeps at most `cap` neighbors, chosen by `md5(dst)` order (a
    * deterministic pseudo-random sample both engines reproduce — ordering
    * by raw id would bias every truncated neighborhood toward low ids).
    * Over the capped adjacency A′: `cn(u,v) = #{w : (w,u), (w,v) ∈ A′}`,
    * `deg′(x) = #{w : (w,x) ∈ A′}`, `jacc = cn / (deg′u + deg′v − cn)` —
    * self-consistently the exact Jaccard OF THE CAPPED GRAPH, so the
    * DuckDB oracle reproduces it bit-for-bit (integer ratio, raw double).
    * Returns (u, v, cn, du, dv, jacc) for pairs with `cn ≥ minCn` and
    * `jacc ≥ minJacc`, plus every node's capped flag surfaced upstream by
    * the caller (ops emits `n_capped_nodes`).
    *
    * Scale shape: the cap bounds per-center wedge fan-out at C(cap, 2)
    * regardless of hub degree — the df-cap discipline from Dedup.maxDf
    * applied to adjacency lists. The ranking window partitions on ONE
    * node's neighbor list (a bounded partition, like one basket under the
    * cap in `graft.ops.Graphs.basketArrays`); a graph with 10⁸-degree hubs should
    * pre-drop them by degree before ranking, which this builder leaves to
    * the caller because dropping changes the metric. Wedge counting and
    * the two degree joins are node-keyed hash operations — no cartesian,
    * no per-pair verify pass (the count IS the verify).
    */
  def jaccardSimilarity(edgesIn: DataFrame, cap: Int = 32,
      minCn: Long = 2L, minJacc: Double = 0.15,
      broadcastMaxNodes: Long = 5000000L): DataFrame = {
    require(cap >= 2, s"cap must be >= 2, got $cap")
    val adj = edgesIn.select(col("src"), col("dst"))
    val kept = Caches.cache(adj
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")
          .orderBy(md5(col("dst").cast("string")), col("dst"))))
      .filter(col("rn") <= cap)
      .select("src", "dst"))
    val hinted = nodeHint(kept, broadcastMaxNodes)
    val ind = kept.groupBy("dst").agg(count(lit(1)).as("deg"))
    // cn >= minCn filters INSIDE the aggregate (most wedge pairs have
    // cn = 1 — at sf0.1 the cut is 7.5M pairs → ~1.5M before any join),
    // and the node-grain degree frame broadcasts so the surviving pairs
    // never shuffle again (3× wall-clock at sf0.1). The broadcast is
    // |V|-grain (degrees are 16 bytes/node — fits an executor for any
    // basket/co-occurrence graph), so it is GUARDED by [[nodeHint]]'s
    // eager node-count probe: beyond `broadcastMaxNodes` the hints drop
    // and AQE falls back to a shuffled join keyed on the already-small
    // filtered pairs. GraphsSpec pins hinted == unhinted.
    //
    // Wedge pairs are generated MAP-SIDE from per-center sorted adjacency
    // arrays (the wedgeStream / ops.Graphs.basketPairs shape), no
    // kept⋈kept self-join: the cap bounds every array at `cap`
    // elements and every center at C(cap, 2) pairs, the groupBy(src)
    // reuses the ranking window's src-hash partitioning (no new
    // exchange), and the chained explodes emit the identical ordered
    // (a.dst < b.dst) pair stream without join machinery.
    val adjArr = kept.groupBy("src")
      .agg(sort_array(collect_list(col("dst"))).as("ns"))
    val wedges = adjArr
      .select(col("ns"), posexplode(col("ns")).as(Seq("i", "u")))
      .select(col("u"),
        explode(slice(col("ns"), col("i") + lit(2), size(col("ns"))))
          .as("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("cn"))
      .filter(col("cn") >= minCn)
    wedges
      .join(hinted(ind.select(col("dst").as("u"), col("deg").as("du"))),
        "u")
      .join(hinted(ind.select(col("dst").as("v"), col("deg").as("dv"))),
        "v")
      .select(col("u"), col("v"), col("cn"), col("du"), col("dv"),
        (col("cn").cast("double") / (col("du") + col("dv") - col("cn")))
          .as("jacc"))
      .filter(col("jacc") >= minJacc)
  }

  /** Persists a DERIVED edge list as a bucketed+sorted parquet table — the
    * amortized production shape for the whole graph family: a production
    * deployment derives the edge list ONCE, stores it bucketed by node, and
    * runs every later analytic against the stored artifact. Bucketing by
    * `u` (with within-bucket (u, v) sort) means any u-keyed aggregate or
    * join over the read-back table is EXCHANGE-FREE — the bucketed-table
    * discipline join_bucketed pins for facts, applied to the derived-graph
    * artifact (llm_ann_index_persist's discipline for ANN, third instance).
    *
    * `payload` names extra columns stored beside (u, v) — e.g. a
    * co-occurrence weight `w` — so ONE artifact serves both the weighted
    * and the (projected) unweighted consumers; the bucket spec stays keyed
    * on `u` regardless.
    *
    * `saveAsTable` is what records bucket metadata in the catalog
    * (a plain parquet path write loses it); `mode("overwrite")` makes
    * re-derivation replace, never merge. Read back with [[readEdges]].
    */
  def writeEdges(edges: DataFrame, table: String, buckets: Int = 8,
      payload: Seq[String] = Nil): Unit =
    edges.select((Seq("u", "v") ++ payload).map(col): _*)
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "u").sortBy("u", "v").saveAsTable(table)

  /** The stored [[writeEdges]] artifact, bucket metadata intact. */
  def readEdges(spark: org.apache.spark.sql.SparkSession,
      table: String): DataFrame = spark.table(table)

  /** [[Tables.tableOrDerive]] with the [[writeEdges]] writer: every graph
    * analytic reads the stored bucketed edge list when it exists, and the
    * session pays the derivation once when it does not. Read-back ==
    * direct derivation row for row (GraphsSpec pins it).
    */
  def edgesOrDerive(spark: org.apache.spark.sql.SparkSession, table: String,
      buckets: Int = 8, payload: Seq[String] = Nil)(derive: => DataFrame)
      : DataFrame =
    Tables.tableOrDerive(spark, table, writeEdges(_, _, buckets, payload))(derive)

  /** Appends a delta edge batch to a [[writeEdges]] table — the
    * incremental-maintenance shape between full re-derivations (the
    * [[graft.api.Vectors.appendToIndex]] discipline applied to the graph
    * artifact): new co-occurrence edges from the day's facts land in the
    * EXISTING bucketed layout via `insertInto`, which routes rows through
    * the table's recorded bucket spec — the appended files are themselves
    * bucketed by `u`, so every u-keyed aggregate/join over the grown table
    * stays exchange-free (ApiSpec pins append == full-rewrite results AND
    * the exchange-free plan). Dedup across batches is the CALLER's
    * contract (edges are facts here; a set-semantics artifact
    * anti-joins the delta against [[readEdges]] first — one node-keyed
    * semi-shuffle, never a rewrite). COMPACTION for this artifact is just
    * `writeEdges(readEdges(spark, table), table)` — the overwrite re-sorts
    * and re-packs every bucket under the same spec (no separate code path
    * to drift; the partitioned-ANN layout needs
    * [[graft.api.Vectors.compactIndex]] only because its cells are
    * DIRECTORIES whose codebook must survive the swap).
    */
  def appendEdges(spark: org.apache.spark.sql.SparkSession, table: String,
      edges: DataFrame, payload: Seq[String] = Nil): Unit =
    edges.select((Seq("u", "v") ++ payload).map(col): _*)
      .write.mode("append").insertInto(table)

  /** Degree assortativity — the Pearson correlation of endpoint degrees
    * over the directed edge instances of a SYMMETRIC adjacency
    * `adj(src, dst)`. Returns ONE row (n_edges_directed, mean_deg,
    * assortativity). Sufficient statistics are exact decimal sums
    * (per-row products cast each FACTOR to DECIMAL(19,0) first — the
    * ops.Graphs float discipline) cast once to double; the closing
    * Pearson chain is identical spelled-order IEEE in both engines.
    *
    * Scale shape: one node-grain degree aggregate, one node-keyed join
    * per endpoint, one 5-sum map-side-combinable aggregate over the
    * edges. The degree-frame joins are |V|-grain hints GUARDED by
    * [[nodeHint]] (16 bytes/node; beyond `broadcastMaxNodes` the hints
    * drop and AQE shuffles the node-grain degree frame, never the
    * edges). Nothing quadratic anywhere. GraphsSpec pins hinted ==
    * unhinted.
    */
  def assortativity(adj: DataFrame,
      broadcastMaxNodes: Long = 5000000L): DataFrame = {
    val dec38 = DecimalType(38, 0)
    val dec19 = DecimalType(19, 0)
    val hinted = nodeHint(adj, broadcastMaxNodes)
    val deg = adj.groupBy("src").agg(count(lit(1)).as("dg"))
    val xy = adj
      .join(hinted(deg.select(col("src"), col("dg").as("x"))), "src")
      .join(hinted(deg.select(col("src").as("dst"), col("dg").as("y"))),
        "dst")
    val m = xy.agg(count(lit(1)).as("n"),
      sum(col("x").cast(dec38)).cast("double").as("sx"),
      sum(col("y").cast(dec38)).cast("double").as("sy"),
      sum(col("x").cast(dec19) * col("x").cast(dec19)).cast("double").as("sxx"),
      sum(col("y").cast(dec19) * col("y").cast(dec19)).cast("double").as("syy"),
      sum(col("x").cast(dec19) * col("y").cast(dec19)).cast("double").as("sxy"))
    m.select(col("n").as("n_edges_directed"),
      (col("sx") / col("n")).as("mean_deg"),
      ((col("n") * col("sxy") - col("sx") * col("sy"))
        / (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
          * sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
        .as("assortativity"))
  }
}
