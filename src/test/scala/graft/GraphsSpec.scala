package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Semantic checks for ops/Graphs.scala + the funnel, independent of the
  * DuckDB oracle and the golden fingerprints: each test recomputes the
  * claimed property from first principles (a conservation law, a
  * differently-ordered algorithm, an exact ratio identity) rather than
  * re-running the production plan.
  */
class GraphsSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  /** The window + self-join formulation of the capped co-order
    * derivation — the DuckDB oracles' shape, kept as the independent
    * reference for the basket-array derivation: distinct non-null items
    * ranked within each basket, the lowest MAXBASKET kept, pairs from a
    * kept⋈kept self-join. Returns the weighted `(u, v, w)` edges and the
    * 1-row `n_capped_orders` frame.
    */
  private def windowReference(items: DataFrame): (DataFrame, DataFrame) = {
    val li = items.filter(col("ok").isNotNull && col("pk").isNotNull)
      .select("ok", "pk").distinct()
    val rk = li.withColumn("rk",
      row_number().over(Window.partitionBy("ok").orderBy("pk")))
    val kept = rk.filter(col("rk") <= graft.ops.Graphs.MAXBASKET)
      .select("ok", "pk")
    val weighted = kept.as("a").join(kept.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
      .agg(count(lit(1)).as("w"))
    val meta = rk.filter(col("rk") > graft.ops.Graphs.MAXBASKET)
      .agg(countDistinct(col("ok")).as("n_capped_orders"))
    (weighted, meta)
  }

  private def deleteTree(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
  }

  private def rowSet(df: DataFrame): Set[String] =
    df.collect().map(_.toSeq.mkString("|")).toSet

  /** The fixture's `(ok, pk)` lineitem projection. */
  private def fixtureItems: DataFrame =
    graft.ops.T.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))

  /** Runs `body` over a fresh fixture dir holding only a `lineitem.parquet`
    * of the given `(ok, pk)` rows (so every artifact derives under a new
    * tag), then drops that dir's artifacts and deletes it.
    */
  private def withLineitem[A](rows: Seq[(Option[Long], Option[Long])])(
      body: String => A): A = {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_coorder")
    val dir = root.toString
    try {
      rows.toDF("l_orderkey", "l_partkey").coalesce(1)
        .write.parquet(s"$dir/lineitem.parquet")
      body(dir)
    } finally {
      graft.api.Tables.dropArtifacts(spark, Some(dir))
      graft.api.Caches.sweep(spark)
      deleteTree(root)
    }
  }

  test("graph_pagerank conserves total rank mass on the symmetric graph") {
    // Each iteration redistributes every node's full rank across its edges
    // (symmetric graph — no dangling leak), so Σ rank stays exactly n in
    // exact arithmetic; the DECIMAL(28,6) contribution quantization can
    // drift the sum by at most ~0.5e-6 per edge-term per iteration.
    val rows = q("graph_pagerank").collect()
    val total = rows.map(_.getAs[Double]("rank")).sum
    assert(rows.length === 160) // 150 customers + 10 suppliers at sf0.001
    assert(math.abs(total - rows.length) < 0.01,
      s"rank mass $total drifted from ${rows.length}")
    // symmetric graph: every node has in-edges, so rank > the damping floor
    assert(rows.forall(_.getAs[Double]("rank") > 0.15))
  }

  test("graph_pagerank_weighted conserves mass and reorders by trade volume") {
    // weighted propagation conserves total mass exactly like the uniform
    // kernel (each node's full rank splits across its out-mass); and the
    // ranking must reflect transaction multiplicity, not mere adjacency —
    // so it cannot be a column-for-column copy of the unweighted ranks
    val w = q("graph_pagerank_weighted").collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Double]("rank")).toMap
    val u = q("graph_pagerank").collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Double]("rank")).toMap
    assert(w.keySet == u.keySet)
    assert(math.abs(w.values.sum - w.size) < 0.01,
      s"weighted rank mass ${w.values.sum} drifted from ${w.size}")
    assert(w.exists { case (n, r) => math.abs(r - u(n)) > 1e-3 },
      "weights must move at least one node's rank materially")
  }

  test("graph_triangles equals an id-ordered 3-way-join recount") {
    // Independent algorithm: canonical u<v<w triples by NODE ID (the
    // production plan orders by (degree, id) — different wedge sets, same
    // triangles), closed by a plain 3-way self-join.
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val e = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v"))
      .distinct().cache()
    val naive = e.as("e1").join(e.as("e2"), col("e1.v") === col("e2.u"))
      .select(col("e1.u").as("u"), col("e1.v").as("v"), col("e2.v").as("w"))
      .join(e.select(col("u"), col("v").as("w")), Seq("u", "w"))
      .count()
    val r = q("graph_triangles").collect()(0)
    assert(r.getAs[Long]("n_triangles") === naive)
    assert(r.getAs[Long]("n_edges") === e.count())
    // the basket cap (64) is far above TPC-H's 7-lineitem orders: the
    // UNCAPPED recount above matching already proves no edge was lost,
    // and the surfaced metric must agree
    assert(r.getAs[Long]("n_capped_orders") === 0L)
    e.unpersist()
  }

  test("graph_label_prop labels are community ids that collapse the graph") {
    val rows = q("graph_label_prop").collect()
    val nodes = rows.map(_.getAs[Long]("node")).toSet
    val labels = rows.map(_.getAs[Long]("label"))
    // every label is itself a node of the graph (labels start as node ids
    // and only ever propagate), and 4 rounds on the dense co-order graph
    // must have merged most parts into shared communities
    assert(labels.toSet.subsetOf(nodes), "labels must be node ids")
    assert(labels.toSet.size < nodes.size / 2,
      s"expected community collapse, got ${labels.toSet.size} labels " +
        s"over ${nodes.size} nodes")
  }

  test("jaccardSimilarity on a planted two-center graph is the exact capped-graph Jaccard") {
    import spark.implicits._
    // centers 10, 11 both adjacent to 1..5; 6 adjacent to 10 only
    val und = (1 to 5).flatMap(x => Seq((10L, x.toLong), (11L, x.toLong))) :+ (10L, 6L)
    val edges = und.toDF("src", "dst")
      .union(und.map(e => (e._2, e._1)).toDF("src", "dst"))
    val got = graft.api.Graph.jaccardSimilarity(edges, cap = 32,
        minCn = 1L, minJacc = 0.0)
      .collect()
      .map(r => (r.getAs[Long]("u"), r.getAs[Long]("v")) ->
        (r.getAs[Long]("cn"), r.getAs[Double]("jacc"))).toMap
    // pairs within 1..5 share both centers over in-degree 2: jacc = 1.0
    for (a <- 1 to 5; b <- a + 1 to 5)
      assert(got((a.toLong, b.toLong)) === ((2L, 1.0)))
    // (x, 6) shares center 10 only: 1 / (2 + 1 - 1) = 0.5
    for (a <- 1 to 5) assert(got((a.toLong, 6L)) === ((1L, 0.5)))
    // centers themselves: cn = 5 shared in-neighbors, degs 6 and 5
    assert(got((10L, 11L)) === ((5L, 5.0 / 6.0)))
    assert(got.size === 10 + 5 + 1)
    graft.api.Caches.sweep(spark)
    // broadcastMaxNodes = 0 forces the no-hint (AQE) path — identical rows
    val unhinted = graft.api.Graph.jaccardSimilarity(edges, cap = 32,
        minCn = 1L, minJacc = 0.0, broadcastMaxNodes = 0L)
      .collect()
      .map(r => (r.getAs[Long]("u"), r.getAs[Long]("v")) ->
        (r.getAs[Long]("cn"), r.getAs[Double]("jacc"))).toMap
    assert(unhinted === got,
      "hinted and unhinted jaccardSimilarity must agree")
    graft.api.Caches.sweep(spark)
  }

  test("graph_jaccard_sim rows satisfy the emitted identity and the filter") {
    val rows = q("graph_jaccard_sim").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (cn, du, dv) = (r.getAs[Long]("cn"), r.getAs[Long]("du"), r.getAs[Long]("dv"))
      val jacc = r.getAs[Double]("jacc")
      assert(jacc === cn.toDouble / (du + dv - cn))
      assert(cn >= 2L && jacc >= 0.15)
      assert(cn <= math.min(du, dv)) // an intersection can't beat either set
      assert(r.getAs[Long]("u") < r.getAs[Long]("v"))
    }
    graft.api.Caches.sweep(spark)
  }

  test("agg_assoc_rules equals a driver-side capped-basket recount") {
    import spark.implicits._
    val items = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct().as[(Long, Long)].collect()
    // cap baskets at 64 lowest part keys, like Graphs.basketArrays
    val kept = items.groupBy(_._1).toSeq.flatMap { case (ok, g) =>
      g.map(_._2).sorted.take(64).map(pk => (ok, pk))
    }
    val nb = kept.map(_._1).distinct.size.toLong
    val itemSup = kept.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val pairSup = kept.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).filter(_._2 >= 2L).toMap
    val got = q("agg_assoc_rules").collect().map { r =>
      (r.getAs[Long]("u"), r.getAs[Long]("v")) ->
        (r.getAs[Long]("s_uv"), r.getAs[Long]("s_u"), r.getAs[Long]("s_v"),
          r.getAs[Double]("conf_uv"), r.getAs[Double]("lift"))
    }.toMap
    assert(got.keySet === pairSup.keySet)
    got.foreach { case ((u, v), (suv, su, sv, conf, lift)) =>
      assert(suv === pairSup((u, v)))
      assert(su === itemSup(u) && sv === itemSup(v))
      assert(conf === suv.toDouble / su)
      assert(lift === (suv.toDouble * nb.toDouble) / (su.toDouble * sv.toDouble))
    }
    graft.api.Caches.sweep(spark)
  }

  test("bfsHops on a planted path assigns exact shortest hops and stops at maxHops") {
    import spark.implicits._
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = und.toDF("src", "dst")
      .union(und.map(e => (e._2, e._1)).toDF("src", "dst"))
    val got = graft.api.Graph.bfsHops(edges, source = 1L, maxHops = 2)
      .collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Int]("hop")).toMap
    // nodes 4, 5 are 3+ hops out: excluded by the bound
    assert(got === Map(1L -> 0, 2L -> 1, 3L -> 2))
    // broadcastMaxNodes = 0 forces the no-hint (AQE) path — the guard is a
    // plan knob, never a semantics knob, so the hop map must be identical
    val unhinted = graft.api.Graph
      .bfsHops(edges, source = 1L, maxHops = 2, broadcastMaxNodes = 0L)
      .collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Int]("hop")).toMap
    assert(unhinted === got,
      s"hinted and unhinted BFS must agree: $got vs $unhinted")
    graft.api.Caches.sweep(spark)
  }

  test("kcore on a planted clique-plus-tail peels the tail, keeps the clique") {
    import spark.implicits._
    // K5 on 1..5 plus a pendant tail 5-6-7
    val und = (for (a <- 1 to 5; b <- a + 1 to 5)
      yield (a.toLong, b.toLong)) ++ Seq((5L, 6L), (6L, 7L))
    val edges = und.toDF("src", "dst")
      .union(und.map(e => (e._2, e._1)).toDF("src", "dst"))
    val got = graft.api.Graph.kcore(edges, k = 3, rounds = 3).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("coredeg")).toMap
    // tail nodes 6 (deg 2) and 7 (deg 1) peel in round 1; the K5 is stable
    // and every survivor's in-core degree is exactly 4
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 5L))
    assert(got.values.forall(_ == 4L))
    graft.api.Caches.sweep(spark)
    // broadcastMaxNodes = 0 forces the no-hint (AQE) path — the nodeHint
    // guard is a plan knob, never a semantics knob (the bfsHops pin,
    // propagated r11)
    val unhinted = graft.api.Graph
      .kcore(edges, k = 3, rounds = 3, broadcastMaxNodes = 0L).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("coredeg")).toMap
    assert(unhinted === got,
      s"hinted and unhinted kcore must agree: $got vs $unhinted")
    graft.api.Caches.sweep(spark)
  }

  test("appendEdges grows the bucketed artifact; probe == full rewrite, still exchange-free") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val tbl = "graph_edges_append_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    graft.api.Tables.clearDeadWarehouseDir(spark, tbl)
    val all = (for (u <- 1L to 40L; v <- u + 1 to u + 3) yield (u, v))
      .toDF("u", "v")
    val base = all.filter(col("u") % 2 === 0)
    val delta = all.filter(col("u") % 2 =!= 0)
    graft.api.Graph.writeEdges(base, tbl)
    graft.api.Graph.appendEdges(spark, tbl, delta)
    val grown = graft.api.Graph.readEdges(spark, tbl)
    // content: exactly the union, row for row
    assert(grown.exceptAll(all).count() == 0 && all.exceptAll(grown).count() == 0)
    // the appended files honor the bucket spec: u-grain agg stays
    // exchange-free over the grown table
    val probe = grown.groupBy("u").count()
    probe.collect()
    val plan = probe.queryExecution.executedPlan
    val uAggs = collectWithSubqueries(plan) {
      case a: HashAggregateExec
        if a.groupingExpressions.exists(_.toString.startsWith("u#")) => a
    }
    assert(uAggs.nonEmpty, s"no u-grain HashAggregate in:\n$plan")
    assert(uAggs.flatMap(a => collectWithSubqueries(a) {
      case e: ShuffleExchangeExec => e
    }).isEmpty,
      "u-grain aggregate over the appended bucketed table must not shuffle")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("kcoreUntil converges to the true k-core and matches the bounded unroll") {
    import spark.implicits._
    // K5 on 1..5 plus a pendant tail 5-6-7: one peel round suffices, the
    // second detects the fixpoint
    val und = (for (a <- 1 to 5; b <- a + 1 to 5)
      yield (a.toLong, b.toLong)) ++ Seq((5L, 6L), (6L, 7L))
    val edges = und.toDF("src", "dst")
      .union(und.map(e => (e._2, e._1)).toDF("src", "dst"))
    val (core, rounds) = graft.api.Graph.kcoreUntil(edges, k = 3)
    val got = core.collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("coredeg")).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 5L) && got.values.forall(_ == 4L))
    assert(rounds === 2, s"peel + fixpoint detection: $rounds")
    // converged result IS the k-core: every survivor's in-core degree >= k
    assert(got.values.forall(_ >= 3L))
    graft.api.Caches.sweep(spark)
    // a 10-path has NO 2-core: the cascade peels from both ends to empty —
    // exactly the case a bounded unroll under-peels
    val path = (1L to 9L).map(i => (i, i + 1))
    val pEdges = path.toDF("src", "dst")
      .union(path.map(e => (e._2, e._1)).toDF("src", "dst"))
    val (empty, pr) = graft.api.Graph.kcoreUntil(pEdges, k = 2)
    assert(empty.count() === 0L, "a path has no 2-core")
    assert(pr >= 5 && pr <= 7, s"two-ended cascade takes ~5 rounds: $pr")
    graft.api.Caches.sweep(spark)
  }

  test("graph_bfs_hops hop-1 frontier is exactly part 0's co-order neighborhood") {
    val rows = q("graph_bfs_hops").collect()
    val hops = rows.map(r => r.getAs[Long]("node") -> r.getAs[Int]("hop")).toMap
    assert(hops.size === rows.length) // each node at exactly one hop
    assert(hops(0L) === 0)
    assert(hops.values.forall(h => h >= 0 && h <= 3))
    // recompute hop 1 from the raw baskets (cap 64 is inert at sf0.001's
    // <=7-item orders): parts sharing at least one order with part 0
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val o0 = li.filter(col("pk") === 0L).select("ok").distinct()
    val n1 = li.join(o0, "ok").filter(col("pk") =!= 0L)
      .select("pk").distinct().collect().map(_.getLong(0)).toSet
    assert(hops.filter(_._2 == 1).keySet === n1)
    graft.api.Caches.sweep(spark)
  }

  test("graph_kcore survivors shrink across rounds and bound their degrees") {
    // probed trajectory at sf0.001 (k=70): 200 -> 185 -> 177 -> 169 ->
    // 153 -> 123 — a genuine cascade (a one-shot deg>=70 filter would
    // keep 185); the planted-clique test above pins survivor semantics
    val rows = q("graph_kcore").collect()
    assert(rows.length === 123)
    // final coredeg is the degree among round-5 survivors: bounded by the
    // full-graph degree, and round 5 filtered on >= 70 over round-4 nodes
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val deg = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
      .groupBy("u").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val cd = r.getAs[Long]("coredeg")
      assert(cd <= deg(r.getAs[Long]("node")))
      assert(cd >= 1L)
    }
    graft.api.Caches.sweep(spark)
  }

  test("graph_components partitions the support-3 graph; labels are min ids") {
    import spark.implicits._
    val comp = q("graph_components").cache()
    // nodes only enter via edges → no singleton components
    assert(comp.filter(col("n_parts") < 2).count() == 0)
    // pointer-doubling converges to the component's min id, which is also
    // the emitted representative — label and rep must coincide
    assert(comp.filter(col("component") =!= col("rep_part")).count() == 0)
    // components partition the node set of the support-3 pair graph
    val pairs = windowReference(fixtureItems)._1.filter(col("w") >= 3)
    val nNodes = pairs.select(col("u").as("n"))
      .union(pairs.select(col("v").as("n"))).distinct().count()
    val covered = comp.agg(sum("n_parts")).as[Long].first()
    assert(covered == nNodes, s"components cover $covered of $nNodes nodes")
    comp.unpersist()
  }

  test("graph_assortativity equals a driver-side Pearson recount") {
    import spark.implicits._
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct().as[(Long, Long)].collect()
    val pairs = li.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).sorted.take(64)
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.toSeq.distinct
    val adj = pairs ++ pairs.map(p => (p._2, p._1))
    val deg = adj.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val xs = adj.map { case (u, v) => (deg(u).toDouble, deg(v).toDouble) }
    val n = xs.length.toDouble
    val (sx, sy) = (xs.map(_._1).sum, xs.map(_._2).sum)
    val sxx = xs.map(p => p._1 * p._1).sum
    val syy = xs.map(p => p._2 * p._2).sum
    val sxy = xs.map(p => p._1 * p._2).sum
    val want = (n * sxy - sx * sy) /
      (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    val r = q("graph_assortativity").collect()(0)
    assert(r.getAs[Long]("n_edges_directed") === adj.length.toLong)
    val got = r.getAs[Double]("assortativity")
    assert(got >= -1.0 && got <= 1.0)
    assert(math.abs(got - want) < 1e-9, s"$got vs $want")
    graft.api.Caches.sweep(spark)
  }

  test("assortativity builder: hinted == unhinted (nodeHint is a plan knob)") {
    import spark.implicits._
    // star on 1..6 plus a triangle 7-8-9: mixed degrees, r < 0
    val und = (2 to 6).map(x => (1L, x.toLong)) ++
      Seq((7L, 8L), (8L, 9L), (7L, 9L))
    val adj = und.toDF("src", "dst")
      .union(und.map(e => (e._2, e._1)).toDF("src", "dst"))
    def run(maxNodes: Long) = {
      val r = graft.api.Graph.assortativity(adj, maxNodes).collect()(0)
      (r.getAs[Long]("n_edges_directed"), r.getAs[Double]("mean_deg"),
        r.getAs[Double]("assortativity"))
    }
    val hinted = run(5000000L)
    val unhinted = run(0L)
    assert(hinted === unhinted,
      s"hinted and unhinted assortativity must agree: $hinted vs $unhinted")
    assert(hinted._1 === 2L * und.size)
    assert(hinted._3 < 0.0) // star dominates: hubs attach to leaves
  }

  test("graph_clustering_coeff corner sums equal 3x the global triangle count") {
    val nodes = q("graph_clustering_coeff").collect()
    graft.api.Caches.sweep(spark)
    val tri = q("graph_triangles").collect()(0).getAs[Long]("n_triangles")
    graft.api.Caches.sweep(spark)
    // each triangle is attributed to exactly its three corners
    assert(nodes.map(_.getAs[Long]("tri_n")).sum === 3L * tri)
    val avg = nodes.head.getAs[Double]("avg_cc")
    assert(avg >= 0.0 && avg <= 1.0)
    nodes.foreach { r =>
      val dg = r.getAs[Long]("degree")
      val t = r.getAs[Long]("tri_n")
      val cc = r.getAs[Double]("cc")
      assert(cc >= 0.0 && cc <= 1.0, s"cc out of range: $cc")
      if (dg < 2) assert(t === 0L && cc === 0.0)
      else assert(cc === 2.0 * t / (dg.toDouble * (dg - 1.0)))
      // triangles through a node are bounded by its wedge count
      assert(t <= dg * (dg - 1) / 2)
    }
  }

  test("graph_degree_stats closes the handshake identity and refits the slope") {
    val rows = q("graph_degree_stats").collect()
    graft.api.Caches.sweep(spark)
    val tri = q("graph_triangles").collect()(0)
    graft.api.Caches.sweep(spark)
    // Σ n_nodes = node count; Σ dg·n_nodes = 2·edges (handshake lemma)
    assert(rows.map(_.getAs[Long]("n_nodes")).sum ===
      tri.getAs[Long]("n_nodes"))
    assert(rows.map(r =>
      r.getAs[Long]("dg") * r.getAs[Long]("n_nodes")).sum ===
      2L * tri.getAs[Long]("n_edges"))
    assert(rows.head.getAs[Long]("n_points") === rows.length.toLong)
    // refit the log-log OLS from the emitted distribution
    val xs = rows.map(r => math.log(r.getAs[Long]("dg").toDouble))
    val ys = rows.map(r => math.log(r.getAs[Long]("n_nodes").toDouble))
    val n = xs.length.toDouble
    val (sx, sy) = (xs.sum, ys.sum)
    val sxx = xs.map(x => x * x).sum
    val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
    val syy = ys.map(y => y * y).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val r2 = math.pow(n * sxy - sx * sy, 2) /
      ((n * sxx - sx * sx) * (n * syy - sy * sy))
    assert(math.abs(rows.head.getAs[Double]("slope") - slope) < 1e-3)
    assert(math.abs(rows.head.getAs[Double]("r2") - r2) < 1e-3)
    assert(rows.head.getAs[Double]("r2") >= 0.0 &&
      rows.head.getAs[Double]("r2") <= 1.0)
  }

  test("co-order artifact read-back equals the direct derivation (r12)") {
    // the contract every artifact-consuming graph key rests on: the stored
    // bucketed (u, v, w) table IS the capped weighted co-order derivation,
    // row for row — so select(u, v) is capBaskets' edge list, w >= 3 is the
    // components support filter, and the meta row is the truncation metric
    // — checked against the window + self-join formulation, w and the meta
    // row included
    val (ew, meta) = graft.ops.Graphs.coOrderArtifact(spark, sf)
    val (refW, refMeta) = windowReference(fixtureItems)
    val direct = graft.ops.Graphs.capBaskets(fixtureItems)._1 // distinct (u, v)
    assert(rowSet(ew.select("u", "v")) === rowSet(direct))
    assert(rowSet(ew) === rowSet(refW))
    assert(rowSet(meta) === rowSet(refMeta))
    // second touch READS (derive-fallback not re-entered): catalog knows it
    assert(spark.catalog.tableExists(
      s"graft_coorder_${graft.api.Tables.dirTag(sf)}"))
    val (ew2, _) = graft.ops.Graphs.coOrderArtifact(spark, sf)
    assert(rowSet(ew2) === rowSet(ew))
    assert(meta.collect()(0).getAs[Long]("n_capped_orders") === 0L)
    graft.api.Caches.sweep(spark)
  }

  test("co-order artifact on a planted 1000-item basket equals the window + self-join reference") {
    // one mega-basket (parts 1..1000) beside small baskets that share some
    // of its lowest parts: the cap keeps parts 1..64 of the big basket, so
    // it contributes C(64, 2) = 2016 pairs and is the one capped order
    val small = (1L to 40L).map(ok =>
      ok -> (0L until 2L + ok % 5).map(j => 1L + (ok * 7 + j * 13) % 120))
    val rows = (1L to 1000L).map(pk => (Some(0L), Some(pk))) ++
      small.flatMap { case (ok, ps) => ps.map(pk => (Some(ok), Some(pk))) }
    withLineitem(rows) { dir =>
      val (ew, meta) = graft.ops.Graphs.coOrderArtifact(spark, dir)
      val (refW, refMeta) = windowReference(graft.ops.T.lineitem(spark, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")))
      assert(rowSet(ew) === rowSet(refW))
      assert(rowSet(meta) === rowSet(refMeta))
      assert(meta.head().getAs[Long]("n_capped_orders") === 1L)
      val smallPairs = small.map { case (_, ps) =>
        val k = ps.distinct.size.toLong
        k * (k - 1) / 2
      }.sum
      assert(ew.agg(sum("w")).head().getLong(0) === 2016L + smallPairs)
    }
  }

  test("co-order null rule: null keys are not items in capBaskets, the artifact and agg_assoc_rules") {
    // a null order key or part key is not an item: no pair, no cap slot,
    // no basket. Basket 1 holds 65 parts plus a null part (capped: parts
    // 1..64 kept); basket 2 holds exactly 64 parts plus a null (not
    // capped); basket 3 repeats an (ok, pk) row; basket 4 holds only a
    // null part (no basket); the null-ok rows belong to no basket
    val raw: Seq[(Option[Long], Option[Long])] =
      (1L to 65L).map(pk => (Some(1L), Some(pk))) ++ Seq((Some(1L), None)) ++
      (101L to 164L).map(pk => (Some(2L), Some(pk))) ++ Seq((Some(2L), None)) ++
      Seq((Some(3L), Some(1L)), (Some(3L), Some(1L)), (Some(3L), Some(2L)),
        (Some(3L), Some(200L)), (Some(4L), None), (None, Some(1L)),
        (None, Some(2L)), (None, None), (Some(5L), Some(101L)),
        (Some(5L), Some(102L)))
    // driver-side reference
    val baskets = raw.collect { case (Some(ok), Some(pk)) => (ok, pk) }
      .distinct.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val kept = baskets.view.mapValues(_.take(graft.ops.Graphs.MAXBASKET)).toMap
    val nCapped = baskets.count(_._2.size > graft.ops.Graphs.MAXBASKET).toLong
    val pairW = kept.values.toSeq.flatMap(ps =>
        for (i <- ps.indices; j <- (i + 1) until ps.size) yield (ps(i), ps(j)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val itemSup = kept.values.toSeq.flatten
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nb = kept.size.toLong
    assert(nCapped === 1L && nb === 4L)
    assert(pairW.contains((63L, 64L)) && !pairW.contains((64L, 65L)))
    import spark.implicits._
    val items = raw.toDF("ok", "pk")
    val (e0, capStats) = graft.ops.Graphs.capBaskets(items)
    assert(rowSet(e0) === pairW.keySet.map { case (u, v) => s"$u|$v" })
    assert(capStats.head().getLong(0) === nCapped)
    withLineitem(raw) { dir =>
      val (ew, meta) = graft.ops.Graphs.coOrderArtifact(spark, dir)
      assert(rowSet(ew) === pairW.map { case ((u, v), w) => s"$u|$v|$w" }.toSet)
      assert(meta.head().getAs[Long]("n_capped_orders") === nCapped)
      val rules = SparkEntry.queries("agg_assoc_rules")(spark, dir).collect()
        .map(r => (r.getAs[Long]("u"), r.getAs[Long]("v")) ->
          (r.getAs[Long]("s_uv"), r.getAs[Long]("s_u"), r.getAs[Long]("s_v"),
            r.getAs[Double]("lift"))).toMap
      val want = pairW.filter(_._2 >= 2L).map { case ((u, v), suv) =>
        (u, v) -> ((suv, itemSup(u), itemSup(v),
          (suv.toDouble * nb.toDouble) / (itemSup(u).toDouble * itemSup(v).toDouble)))
      }
      assert(want.keySet === Set((1L, 2L), (101L, 102L)))
      assert(rules === want)
    }
  }

  test("co-order artifact derivation: one lineitem scan, no window or join, nothing left persisted") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
    // a fresh tag over the real fixture, so the derivation runs; from a
    // Caches.sweepAll clean start, an earlier test's SQL-cache entry for an
    // identical plan cannot answer the derivation's persist
    val root = java.nio.file.Files.createTempDirectory("graft_coorder_hygiene")
    val dir = java.nio.file.Files.createSymbolicLink(root.resolve("fixture"),
      java.nio.file.Paths.get(sf)).toString
    graft.api.Caches.sweepAll(spark)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlanInfo]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.add(u.sparkPlanInfo)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (ew, meta) = graft.ops.Graphs.coOrderArtifact(spark, dir)
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      assert(spark.sparkContext.getPersistentRDDs.keySet === before,
        "the derivation left RDDs persisted")
      assert(spark.sharedState.cacheManager.isEmpty,
        "the derivation left an SQL cache entry")
      def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] =
        p +: p.children.flatMap(nodes)
      val all = plans.toArray(Array.empty[SparkPlanInfo]).toSeq.flatMap(nodes)
      assert(all.nonEmpty, "no executed plan was seen")
      val banned = all.map(_.nodeName).filter(n => n.contains("Window") ||
        n.contains("Join") || n.contains("CartesianProduct")).distinct
      assert(banned.isEmpty, s"window or join in the derivation: $banned")
      // one physical scan: every plan that shows a lineitem scan shows the
      // same node (the cached basket frame's), identified by its metrics
      val scans = all.filter(n => n.nodeName.startsWith("Scan") &&
          n.metadata.get("Location").exists(_.contains("lineitem.parquet")))
        .map(_.metrics.map(_.accumulatorId).toSet).distinct
      assert(scans.size === 1, s"lineitem scanned ${scans.size} times")
      assert(meta.head().getAs[Long]("n_capped_orders") === 0L)
      assert(ew.count() === graft.ops.Graphs.coOrderArtifact(spark, sf)._1.count())
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      graft.api.Tables.dropArtifacts(spark, Some(dir))
      deleteTree(root)
    }
  }

  test("txn artifact read-back equals the direct derivation (r12)") {
    val ew = graft.ops.Graphs.txnArtifact(spark, sf)
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val direct = orders.join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey").as("u"),
        (col("l_suppkey") + 1000000000L).as("v"))
      .agg(count(lit(1)).as("w"))
    def keySet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).toSet
    assert(keySet(ew) === keySet(direct))
  }

  test("kcore over the artifact equals kcore over a fresh derivation (r12)") {
    // end-to-end per-builder pin: the gated key (artifact path) against the
    // same solver fed by an in-memory derivation — plan source must be a
    // pure physical detail
    val fresh = graft.ops.Graphs.capBaskets(
      spark.read.parquet(s"$sf/lineitem.parquet")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct())._1
    val edges = fresh.select(col("u").as("src"), col("v").as("dst"))
      .union(fresh.select(col("v").as("src"), col("u").as("dst")))
    val derived = graft.api.Graph.kcore(edges, k = 70, rounds = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaArtifact = q("graph_kcore")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaArtifact === derived)
    graft.api.Caches.sweep(spark)
  }

  test("triangles/localClustering: edge-broadcast hint is a plan knob (r12)") {
    // hinted (default ceiling, fixture edges well under it) == unhinted
    // (ceiling 0 forces the shuffled equi-joins) — bit-for-bit
    val e0 = graft.ops.Graphs.capBaskets(
      spark.read.parquet(s"$sf/lineitem.parquet")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct())._1
    val tH = graft.api.Graph.triangles(e0).collect()(0)
    val tU = graft.api.Graph.triangles(e0, broadcastMaxEdges = 0L).collect()(0)
    assert(tH.toSeq === tU.toSeq)
    val cH = graft.api.Graph.localClustering(e0)
      .collect().map(_.toSeq.mkString("|")).toSet
    val cU = graft.api.Graph.localClustering(e0, broadcastMaxEdges = 0L)
      .collect().map(_.toSeq.mkString("|")).toSet
    assert(cH === cU)
    graft.api.Caches.sweep(spark)
  }

  test("oriented artifact read-back equals the direct orientation (r13)") {
    // the contract the triangle family's amortization rests on: the stored
    // (lo, hi, khi) table + degree side table ARE Graph.orient over the
    // co-order e0, row for row — and the consumer produces the identical
    // result from either source
    val (deg, ori) = graft.ops.Graphs.coOrderOriented(spark, sf)
    val e0 = graft.ops.Graphs.coOrderArtifact(spark, sf)._1.select("u", "v")
    val (degD, oriD) = graft.api.Graph.orient(e0)
    def keySet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).toSet
    assert(keySet(deg) === keySet(degD))
    assert(keySet(ori) === keySet(oriD))
    val tag = graft.api.Tables.dirTag(sf)
    assert(spark.catalog.tableExists(s"graft_coorder_oriented_$tag"))
    assert(spark.catalog.tableExists(s"graft_coorder_deg_$tag"))
    // second touch READS (derive-fallback not re-entered)
    val (_, ori2) = graft.ops.Graphs.coOrderOriented(spark, sf)
    assert(keySet(ori2) === keySet(ori))
    // consumer equality: the artifact path == a fresh end-to-end derivation
    val a = graft.api.Graph.trianglesOriented(deg, ori).collect()(0)
    val f = graft.api.Graph.triangles(e0).collect()(0)
    assert(a.toSeq === f.toSeq)
    graft.api.Caches.sweep(spark)
  }

  test("artifact side tables dropped mid-session are re-derived with the same rows") {
    val tag = graft.api.Tables.dirTag(sf)
    val sideTables = Seq(s"graft_coorder_meta_$tag", s"graft_coorder_deg_$tag")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).toSet
    def sides() = (rows(graft.ops.Graphs.coOrderArtifact(spark, sf)._2),
      rows(graft.ops.Graphs.coOrderOriented(spark, sf)._1))
    val (meta0, deg0) = sides()
    assert(meta0.size == 1 && deg0.nonEmpty)
    sideTables.foreach(t => spark.sql(s"DROP TABLE `$t`"))
    assert(sideTables.forall(t => !spark.catalog.tableExists(t)))
    val (meta1, deg1) = sides()
    assert(sideTables.forall(spark.catalog.tableExists))
    assert(meta1 === meta0)
    assert(deg1 === deg0)
    graft.api.Caches.sweep(spark)
  }

  test("stronglyConnected: planted cycles, tails and singletons (r15)") {
    import spark.implicits._
    // cycle {1,2,3}; 4 feeds the cycle but is not fed back (singleton);
    // mutual pair {5,6}; acyclic chain 7→8 (two singletons); 9→5 tail
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L),
      (5L, 6L), (6L, 5L), (7L, 8L), (9L, 5L))
      .toDF("src", "dst")
    val got = graft.api.Graph.stronglyConnected(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 8L, 9L -> 9L), got)
    graft.api.Caches.sweep(spark)
  }

  test("stronglyConnected: self-loop-only nodes are singletons; an anti-ordered chain trims (r16)") {
    import spark.implicits._
    // node 999 has ONLY a self-loop — before r16 it vanished with the
    // dropped loops instead of surfacing as its own SCC; the 40-node chain
    // with ids DECREASING along edge direction previously assigned ONE
    // node per phase (refused at maxPhases=8 on a 9-node path) — the trim
    // step now dissolves the whole chain as bulk sources/sinks
    val edges = ((41L to 79L).map(i => (i, i - 1)) :+ (999L, 999L))
      .toDF("src", "dst")
    val got = graft.api.Graph.stronglyConnected(edges)
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == ((40L to 79L).toSet + 999L), got)
    assert(got.forall { case (n, s) => n == s },
      s"every node here is its own SCC: $got")
    graft.api.Caches.sweep(spark)
  }

  test("stronglyConnected: a long cycle converges; the round cap refuses (r15)") {
    import spark.implicits._
    // one directed 30-cycle = one SCC whose internal diameter is 29 —
    // the mark-back loop needs ~30 rounds (the pointer jump accelerates
    // only the min-reach phase), inside the default maxRounds = 40
    val n = 30L
    val cyc = (0L until n).map(i => (i + 100, (i + 1) % n + 100))
      .toDF("src", "dst")
    val got = graft.api.Graph.stronglyConnected(cyc)
      .as[(Long, Long)].collect()
    assert(got.length == n && got.forall(_._2 == 100L))
    // the bounded-round refusal contract: an uncoverged decomposition
    // must throw with the knob to raise, never return merged/split SCCs
    val ex = intercept[IllegalArgumentException](
      graft.api.Graph.stronglyConnected(cyc, maxRounds = 3))
    assert(ex.getMessage.contains("maxRounds"), ex.getMessage)
    graft.api.Caches.sweep(spark)
  }

  test("LPA-labels artifact reads back the direct 4-round propagation (r15)") {
    import org.apache.spark.sql.functions.col
    // the amortization contract graph_label_prop and graph_modularity now
    // share: the stored label frame IS Graph.labelPropagation(iters=4)
    // over the co-order edges, row for row
    val viaArtifact = graft.ops.Graphs.lpaLabelsArtifact(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val e0 = graft.ops.Graphs.coOrderArtifact(spark, sf)._1.select("u", "v")
    val edges = e0.select(col("u").as("src"), col("v").as("dst"))
      .union(e0.select(col("v").as("src"), col("u").as("dst")))
    val direct = graft.api.Graph.labelPropagation(edges, iters = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaArtifact === direct)
    assert(direct.nonEmpty)
    val tag = graft.api.Tables.dirTag(sf)
    assert(spark.catalog.tableExists(s"graft_lpa_coorder_i4_$tag"))
    // second touch READS and returns the same rows
    val again = graft.ops.Graphs.lpaLabelsArtifact(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === direct)
    graft.api.Caches.sweep(spark)
  }

  test("wedge budget: a planted mega-basket is refused with the exact count (r13)") {
    import spark.implicits._
    // the STRESS shape: one 1000-item mega-basket, capped at MAXBASKET=64
    // items by ingestion -> a K64 clique. Σ C(outdeg, 2) over its
    // degree-ordered orientation is C(64, 3) = 41664 — the EXACT wedge
    // count the probe must surface in the refusal
    val items = (1 to 1000).map(pk => (0L, pk.toLong)).toDF("ok", "pk")
    val (e0, capStats) = graft.ops.Graphs.capBaskets(items)
    assert(capStats.head().getLong(0) === 1L) // the truncation is surfaced
    val ex = intercept[IllegalArgumentException](
      graft.api.Graph.triangles(e0, wedgeBudget = 10000L))
    assert(ex.getMessage.contains("41664 rows"), ex.getMessage)
    assert(ex.getMessage.contains("wedgeBudget 10000"), ex.getMessage)
    val exCc = intercept[IllegalArgumentException](
      graft.api.Graph.localClustering(e0, wedgeBudget = 10000L))
    assert(exCc.getMessage.contains("41664 rows"), exCc.getMessage)
    // under the default budget the same frame runs — and in a clique every
    // wedge closes, so n_triangles equals the probed wedge count exactly
    val r = graft.api.Graph.triangles(e0).collect()(0)
    assert(r.getAs[Long]("n_triangles") === 41664L)
    assert(r.getAs[Long]("n_edges") === 2016L) // C(64, 2)
    assert(r.getAs[Long]("n_nodes") === 64L)
    graft.api.Caches.sweep(spark)
  }

  test("multiBfsHops equals the per-source bfsHops union on a literal graph (r13)") {
    import spark.implicits._
    // path 1-2-3-4-5 plus a branch 2-10; sources 1 and 10
    val edges0 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 10L))
    val edges = (edges0 ++ edges0.map(e => (e._2, e._1)))
      .toDF("src", "dst")
    val multi = graft.api.Graph.multiBfsHops(edges, Seq(1L, 10L), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val perSrc = Seq(1L, 10L).flatMap(sr =>
      graft.api.Graph.bfsHops(edges, sr, 3)
        .collect().map(r => (sr, r.getLong(0), r.getInt(1)))).toSet
    assert(multi === perSrc)
    // spot-pin the distances: from 1, node 4 is 3 hops; from 10, node 3 is 2
    assert(multi.contains((1L, 4L, 3)) && multi.contains((10L, 3L, 2)))
    graft.api.Caches.sweep(spark)
  }

  test("graph_harmonic_sampled closes exactly over the probe hop counts (r13)") {
    val rows = q("graph_harmonic_sampled").collect()
    graft.api.Caches.sweep(spark)
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nr = r.getAs[Long]("n_reached")
      val h6 = r.getAs[Long]("h6_sum")
      assert(nr >= 1L && nr <= 4L) // at most the 4 probes
      // each probe contributes 6 (hop 1), 3 (hop 2) or 2 (hop 3)
      assert(h6 >= 2L * nr && h6 <= 6L * nr)
      assert(r.getAs[Double]("harmonic") === h6.toDouble / 6.0)
    }
  }

  test("betweennessSampled: exact Brandes dependencies on planted path and diamond graphs") {
    import spark.implicits._
    // path 0-1-2-3-4, source {0}: σ = 1 everywhere, δ(4)=0, δ(3)=1,
    // δ(2)=2, δ(1)=3 — bc equals the interior shortest-path counts
    val path = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L),
      (2L, 3L), (3L, 2L), (3L, 4L), (4L, 3L)).toDF("src", "dst")
    val gotPath = graft.api.Graph.betweennessSampled(path, Seq(0L), maxHops = 4)
      .orderBy("node")
      .select("node", "n_sources", "bc")
      .as[(Long, Long, Double)].collect().toSeq
    assert(gotPath == Seq((1L, 1L, 3.0), (2L, 1L, 2.0), (3L, 1L, 1.0),
      (4L, 1L, 0.0)))
    // diamond 0-{1,2}-3, source {0}: σ(3) = 2, δ(1) = δ(2) = 1/2·(1+0)
    val diamond = Seq((0L, 1L), (1L, 0L), (0L, 2L), (2L, 0L),
      (1L, 3L), (3L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val gotDia = graft.api.Graph.betweennessSampled(diamond, Seq(0L), maxHops = 3)
      .orderBy("node")
      .select("node", "bc").as[(Long, Double)].collect().toSeq
    assert(gotDia == Seq((1L, 0.5), (2L, 0.5), (3L, 0.0)))
    // two sources, one repeated (multiBfsHops dedupes): bc sums per source
    val gotTwo = graft.api.Graph.betweennessSampled(path, Seq(0L, 4L, 4L),
        maxHops = 4)
      .orderBy("node").select("node", "bc").as[(Long, Double)].collect().toSeq
    // from 0: δ(1..4) = 3,2,1,0; from 4: δ(3..0) = 3,2,1,0 → summed
    assert(gotTwo == Seq((0L, 0.0), (1L, 3.0 + 1.0), (2L, 2.0 + 2.0),
      (3L, 1.0 + 3.0), (4L, 0.0)))
    graft.api.Caches.sweep(spark)
  }

  test("win_funnel stages are monotone and ratios are the exact counts") {
    val r = q("win_funnel").collect()(0)
    val nv = r.getAs[Long]("n_view")
    val nc = r.getAs[Long]("n_click")
    val np = r.getAs[Long]("n_purchase")
    assert(nv >= nc && nc >= np && np >= 0L)
    assert(nv > 0L) // fixture has views
    assert(r.getAs[Double]("conv_click") === nc.toDouble / nv)
    assert(r.getAs[Double]("conv_purchase") === np.toDouble / nv)
    if (np > 0L) assert(r.getAs[Double]("avg_convert_us") >= 0.0)
  }
}
