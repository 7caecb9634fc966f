package graft

import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter, ProjectExec, SortExec, SparkPlan, TakeOrderedAndProjectExec, WholeStageCodegenExec}

/** Plan-quality assertions: the physical plans must have the shape that
  * survives a 100 TB scale-up — pushdown reaching the parquet scan, pruned
  * read schemas, broadcast dims, partition pruning, two-stage top-k
  * (SURVEY.md §4).
  *
  * The WINDOW SCALE RULE guards every key that rides the shared two-stage
  * prefix sum, given the key's coarse key columns (a handful of distinct
  * values, or a constant). A `WindowExec` violates it iff both hold:
  *   - its partition columns are a subset of the coarse columns (an empty
  *     partition counts), so all rows of one coarse value meet in one
  *     reducer;
  *   - its input is not a bounded aggregate: looking through sorts,
  *     exchanges, AQE reads and stages, projections and codegen wrappers,
  *     the nearest operator is not an aggregate grouped on `bucket`
  *     (≤ `buckets` rows per key) or `decile` (10 rows).
  * The walk enters cached plans (`InMemoryTableScanExec`), which
  * `collectWithSubqueries` alone does not.
  */
class PlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def plan(name: String): SparkPlan =
    q(name).queryExecution.executedPlan

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    collectWithSubqueries(p) { case s: FileSourceScanExec => s }

  private def windows(p: SparkPlan): Seq[WindowExec] =
    collectWithSubqueries(p) {
      case w: WindowExec => Seq(w)
      case m: InMemoryTableScanExec => windows(m.relation.cachedPlan)
    }.flatten

  private def boundedInput(p: SparkPlan): Boolean = p match {
    case a: BaseAggregateExec =>
      a.groupingExpressions.exists(e => e.name == "bucket" || e.name == "decile")
    case _: SortExec | _: Exchange | _: AQEShuffleReadExec | _: ProjectExec |
        _: WholeStageCodegenExec | _: InputAdapter => boundedInput(p.children.head)
    case s: QueryStageExec => boundedInput(s.plan)
    case _ => false
  }

  private def violates(coarse: Set[String])(w: WindowExec): Boolean =
    w.partitionSpec.forall(_.references.forall(a => coarse(a.name))) &&
      !boundedInput(w.child)

  test("filt_conjunctive pushes predicates into the parquet scan") {
    val sc = scans(plan("filt_conjunctive"))
    assert(sc.nonEmpty)
    val pushed = sc.flatMap(_.dataFilters).mkString(";") +
      sc.map(_.metadata.getOrElse("PushedFilters", "")).mkString(";")
    assert(pushed.contains("l_quantity") && pushed.contains("l_discount"),
      s"expected quantity/discount filters pushed, got: $pushed")
  }

  test("filt_subquery_exists decorrelates into semi + anti joins (no re-scan loop)") {
    val p = plan("filt_subquery_exists")
    val joins = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j.joinType
    }
    assert(joins.exists(_.sql == "LEFT SEMI"),
      s"expected a LeftSemi join (EXISTS/IN decorrelation), got $joins")
    assert(joins.exists(_.sql == "LEFT ANTI"),
      s"expected a LeftAnti join (NOT EXISTS decorrelation), got $joins")
  }

  test("proj_select_alias prunes the read schema to the used columns") {
    val sc = scans(plan("proj_select_alias"))
    assert(sc.nonEmpty)
    val readCols = sc.head.schema.fieldNames.toSet
    assert(readCols.subsetOf(Set("l_orderkey", "l_linenumber", "l_extendedprice",
      "l_discount", "l_tax")),
      s"scan reads more than needed: $readCols")
    assert(!readCols.contains("l_shipdate"))
  }

  test("join_star_multiway broadcasts every dimension") {
    val bhj = collectWithSubqueries(plan("join_star_multiway")) {
      case b: BroadcastHashJoinExec => b
    }
    assert(bhj.size >= 3, s"expected >=3 broadcast joins (customer/nation/region), got ${bhj.size}")
  }

  test("limit_topk plans a two-stage TakeOrderedAndProject (no global sort)") {
    val tops = collectWithSubqueries(plan("limit_topk")) {
      case t: TakeOrderedAndProjectExec => t
    }
    assert(tops.nonEmpty, s"expected TakeOrderedAndProjectExec in:\n${plan("limit_topk")}")
  }

  test("src_partitioned_scan prunes partitions (reads only the filtered one)") {
    // building the query also writes the partitioned layout
    val p = plan("src_partitioned_scan")
    val sc = scans(p)
    assert(sc.nonEmpty)
    val parts = sc.head.metadata.getOrElse("PartitionFilters", "")
    assert(parts.contains("event_type"),
      s"expected a partition filter on event_type, got: ${sc.head.metadata}")
    // the pruned scan must see exactly one partition directory
    assert(sc.head.relation.location.inputFiles.count(_.contains("event_type=")) > 0)
  }

  test("join_bucketed joins without a shuffle exchange on either side") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val p = plan("join_bucketed")
    val smj = collectWithSubqueries(p) { case j: SortMergeJoinExec => j }
    assert(smj.nonEmpty, s"expected a sort-merge join over bucketed tables:\n$p")
    val shufflesUnderJoin = smj.flatMap(j => collectWithSubqueries(j) {
      case e: ShuffleExchangeExec => e
    })
    assert(shufflesUnderJoin.isEmpty,
      s"bucketed join must not shuffle its inputs:\n$p")
  }

  test("graph_edges_persist reaches the u-grain aggregate with zero exchange (bucketed artifact)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val p = plan("graph_edges_persist")
    // the degree aggregate groups on the BUCKET key `u`: the stored layout
    // must answer it straight off the scan — any shuffle below it means the
    // bucket metadata was lost (path write instead of saveAsTable) and the
    // artifact is just a parquet copy, not an index
    val uAggs = collectWithSubqueries(p) {
      case a: HashAggregateExec
        if a.groupingExpressions.exists(_.toString.startsWith("u#")) => a
    }
    assert(uAggs.nonEmpty, s"expected the u-grain degree aggregate:\n$p")
    val shufflesUnder = uAggs.flatMap(a => collectWithSubqueries(a) {
      case e: ShuffleExchangeExec => e
    })
    assert(shufflesUnder.isEmpty,
      s"u-grain aggregate over the bucketed edge table must not shuffle:\n$p")
  }

  test("near-dup candidate generation plans equi-joins, never a cartesian/BNLJ") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    Seq("llm_minhash_neardup", "llm_simhash_neardup", "llm_ngram_jaccard",
      "llm_minhash_recall", "llm_simhash_recall").foreach { name =>
      val p = plan(name)
      val bad = collectWithSubqueries(p) {
        case c: CartesianProductExec => c
        case b: BroadcastNestedLoopJoinExec => b
      }
      assert(bad.isEmpty, s"$name must pair via equi-joins only:\n$p")
    }
  }

  test("agg_histogram broadcasts the per-group bounds (one row per group)") {
    val bhj = collectWithSubqueries(plan("agg_histogram")) {
      case b: BroadcastHashJoinExec => b
    }
    assert(bhj.nonEmpty, "bounds should join back via broadcast")
  }

  test("src_profile computes every column stat in ONE scan of events") {
    // all per-column counts/distincts partial-aggregate out of a single
    // pass; a per-column-scan plan would read the table 5x
    assert(scans(plan("src_profile")).size == 1,
      s"profile must be a single-pass aggregate:\n${plan("src_profile")}")
  }

  test("new joins (stream-stream twin, decontaminate, upsert) avoid cartesian/BNLJ") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    Seq("stream_stream_join", "llm_decontaminate", "set_upsert").foreach { name =>
      val p = plan(name)
      val bad = collectWithSubqueries(p) {
        case c: CartesianProductExec => c
        case b: BroadcastNestedLoopJoinExec => b
      }
      assert(bad.isEmpty, s"$name must join on equi-keys only:\n$p")
    }
  }

  test("agg_mad_outliers never shuffles the fact table (broadcast-back only)") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val p = plan("agg_mad_outliers")
    val bhj = collectWithSubqueries(p) { case b: BroadcastHashJoinExec => b }
    val smj = collectWithSubqueries(p) { case s: SortMergeJoinExec => s }
    // 3, not 2: the deviation frame is re-derived under the MAD aggregate,
    // so the median join appears twice — extra SCANS (column-pruned, cheap),
    // never an extra fact SHUFFLE, which is the property asserted here.
    assert(bhj.size >= 2, s"median and MAD must broadcast back onto the fact:\n$p")
    assert(smj.isEmpty, s"the fact side must never shuffle for a join:\n$p")
  }

  test("sessionize/scd2 reuse ONE hash shuffle across window + rollup stages") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    // lag-window, running-sum window and the grouped rollup all cluster on
    // user_id (or a superset): a plan that re-exchanges between them would
    // shuffle the event stream 2-3x at 100 TB for nothing.
    Seq("win_sessionize", "win_scd2_intervals").foreach { name =>
      val hashEx = collectWithSubqueries(plan(name)) {
        case e: ShuffleExchangeExec
            if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
      }
      assert(hashEx.size == 1,
        s"$name must cluster once on user_id, found ${hashEx.size} hash exchanges:\n${plan(name)}")
    }
  }

  test("llm_decontaminate_bloom probes the Bloom filter before any shuffle, in codegen") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    val p = plan("llm_decontaminate_bloom")
    val preShuffleProbe = collectWithSubqueries(p) {
      case f: FilterExec
          if f.condition.exists(_.isInstanceOf[graft.functions.BloomProbe]) &&
            f.collectLeaves().exists(_.isInstanceOf[FileSourceScanExec]) &&
            f.collect { case e: ShuffleExchangeExec => e }.isEmpty => f
    }
    assert(preShuffleProbe.nonEmpty,
      s"the corpus-side Bloom probe must run scan-side, ahead of the gram shuffle:\n$p")
    // the probe replaced the engine's one hot-path ScalaUDF — keep it gone
    val udfs = collectWithSubqueries(p) {
      case f: FilterExec if f.condition.exists(_.isInstanceOf[ScalaUDF]) => f
    }
    assert(udfs.isEmpty, s"no ScalaUDF may remain in the bloom path:\n$p")
  }

  test("join_bloom_prefilter probes the Bloom filter on the fact scan side, in codegen") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    val p = plan("join_bloom_prefilter")
    val preShuffleProbe = collectWithSubqueries(p) {
      case f: FilterExec
          if f.condition.exists(_.isInstanceOf[graft.functions.BloomProbe]) &&
            f.collectLeaves().exists(_.isInstanceOf[FileSourceScanExec]) &&
            f.collect { case e: ShuffleExchangeExec => e }.isEmpty => f
    }
    assert(preShuffleProbe.nonEmpty,
      s"the fact-side Bloom probe must run scan-side, ahead of the join exchange:\n$p")
    val udfs = collectWithSubqueries(p) {
      case f: FilterExec if f.condition.exists(_.isInstanceOf[ScalaUDF]) => f
    }
    assert(udfs.isEmpty, s"no ScalaUDF may remain in the bloom path:\n$p")
  }

  test("llm_ann_index_persist prunes the stored index scan to the probed cells") {
    // the persisted-index scale contract: the probed-cell set (bounded by
    // the k codebook rows) reaches the cell-partitioned layout as a
    // PARTITION filter, so the scan lists only probed cell= directories
    val idxScans = scans(plan("llm_ann_index_persist"))
      .filter(_.metadata.getOrElse("Location", "").contains("/index"))
    assert(idxScans.nonEmpty, "no scan over the stored index found")
    assert(idxScans.forall(_.partitionFilters.nonEmpty),
      s"index scan carries no partition filter:\n${idxScans.head}")
    assert(idxScans.forall(s =>
      s.partitionFilters.mkString(";").contains("cell")),
      "partition filter does not constrain the cell column")
  }

  test("join_dpp_prune dynamically prunes the fact partitions from the dim result") {
    // the dim filter sits on a NON-KEY attribute (rn), so no static
    // predicate can reach the fact scan — only runtime DPP can, and the
    // scan must carry it as a partition filter (pruned file listing)
    val factScans = scans(plan("join_dpp_prune"))
      .filter(_.metadata.getOrElse("Location", "").contains("/fact"))
    assert(factScans.nonEmpty, "no scan over the partitioned fact found")
    val pf = factScans.flatMap(_.partitionFilters).mkString(";")
    assert(pf.toLowerCase.contains("dynamicpruning"),
      s"fact scan partition filters carry no dynamic pruning: $pf")
  }

  test("agg_approx_topk partial-aggregates the sketch map-side") {
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    val aggs = collectWithSubqueries(plan("agg_approx_topk")) {
      case a: ObjectHashAggregateExec => a
    }
    assert(aggs.size == 2,
      s"frequent-items sketch must merge partials (partial+final), got ${aggs.size}")
  }

  test("llm_shard_write reads back a shard-partitioned layout") {
    val sc = scans(plan("llm_shard_write"))
    assert(sc.nonEmpty)
    // the written layout must actually be partitioned by shard directories
    assert(sc.exists(_.relation.location.inputFiles.exists(_.contains("shard="))),
      "read-back must come from shard= partition directories")
  }

  test("hot per-row paths run inside whole-stage codegen") {
    // the flagship aggregate, the pure per-row corpus filters, and the
    // custom-expression paths (vec_dot / bits_hamming) must all plan
    // WholeStageCodegen spans — an interpreted fragment here multiplies
    // per-row cost at 100 TB
    Seq("agg_groupby_hash", "llm_quality_filter", "llm_pii_scrub",
      "llm_cosine_topk", "llm_simhash_neardup").foreach { name =>
      val qe = q(name).queryExecution
      qe.toRdd.count() // finalize AQE stages — codegen collapses on execution
      val spans = collectWithSubqueries(qe.executedPlan) {
        case w: WholeStageCodegenExec => w
      }
      assert(spans.nonEmpty, s"$name has no WholeStageCodegen span:\n${qe.executedPlan}")
      graft.api.Caches.sweepAll(spark)
    }
  }

  test("cell assignment plans as ONE codegen'd argmax projection (no join, no struct array)") {
    import org.apache.spark.sql.functions._
    // the k-means scoring pass is the whole-corpus hot loop of the ANN /
    // semdedup stack: it must stay a shuffle-free projection whose argmax
    // runs inside whole-stage codegen via the fused ArgmaxCell expression —
    // the array_max(struct...) shape it replaced was codegen'd too but
    // cost ~6 core-ms/row materializing a 64-struct array per row
    val nv = graft.api.Vectors.normalized(
      graft.ops.T.embeddings(spark, sf), "embedding")
      .select(col("vec_id"), col("vd"), col("nrm"))
    val cb = graft.api.Vectors.kmeansCodebook(nv, "vec_id", k = 8, iters = 1)
    val assigned = graft.api.Vectors.assignCells(nv, cb)
    val qe = assigned.queryExecution
    qe.toRdd.count()
    val plan = qe.executedPlan
    assert(plan.toString.contains("argmax_cell"),
      s"assignment must go through the fused ArgmaxCell expression:\n$plan")
    val spans = collectWithSubqueries(plan) { case w: WholeStageCodegenExec => w }
    assert(spans.nonEmpty, s"assignment projection fell out of codegen:\n$plan")
    val shuffles = collectWithSubqueries(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty,
      s"cell assignment must be a pure per-row map, found shuffle:\n$plan")
    graft.api.Caches.sweepAll(spark)
  }

  // every registry key riding the shared two-stage prefix sum
  // (graft.api.Fts' bucketed prefix sums and equi-depth buckets), with the
  // coarse key column(s) it sums under
  private val prefixSumRiders: Seq[(String, Set[String])] = Seq(
    "agg_weighted_percentile" -> Set("l_returnflag"),
    "agg_quantile_normalize" -> Set("flag", "gk"),
    "agg_ks_test" -> Set("gk"),
    "agg_mann_whitney" -> Set("gk"),
    "agg_spearman" -> Set("flag"),
    "agg_trimmed_mean" -> Set("flag"),
    "agg_winsorized_mean" -> Set("flag"),
    "agg_hhi_gini" -> Set("g"),
    "llm_vocab_growth" -> Set("gk"),
    "llm_auc_roc" -> Set("gk"),
    "llm_lift_gains" -> Set("gk"),
    "win_pareto_abc" -> Set("gk"),
    "win_skyline" -> Set("gk"),
    "win_ntile" -> Set("g"),
    "win_ntile_scalable" -> Set("g"),
    "win_interval_sweep" -> Set("g"),
    "win_first_last_pctrank" -> Set("event_type"))

  prefixSumRiders.foreach { case (key, coarse) =>
    test(s"$key passes the window scale rule") {
      val p = plan(key)
      val ws = windows(p)
      graft.api.Caches.sweepAll(spark)
      assert(ws.nonEmpty, s"$key: expected its prefix-sum windows:\n$p")
      val bad = ws.filter(violates(coarse))
      assert(bad.isEmpty,
        s"$key: window over an unbounded coarse partition:\n${bad.mkString("\n")}")
    }
  }

  test("agg_quantile_normalize buckets by one shared literal cut array") {
    // both prefix-sum passes take the one equiDepthCuts array as literals: the
    // plan holds no per-call percentile aggregate at all
    val p = plan("agg_quantile_normalize")
    graft.api.Caches.sweepAll(spark)
    assert(!p.toString.contains("percentile_approx"),
      s"equi-depth cuts must arrive as literals, not a per-call aggregate:\n$p")
  }

  private def planted(w: WindowSpec) = graft.ops.T.lineitem(spark, sf)
    .withColumn("cum", org.apache.spark.sql.functions.sum("l_quantity").over(w))

  private val byFlag = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")

  private def assertReported(p: SparkPlan): Unit =
    assert(windows(p).exists(violates(Set("l_returnflag"))),
      s"the window scale rule missed a planted violation:\n$p")

  test("the window scale rule reports a planted fact-grain window on the flag") {
    assertReported(planted(byFlag).queryExecution.executedPlan)
  }

  test("the window scale rule reports a planted unpartitioned fact-grain window") {
    assertReported(planted(Window.orderBy("l_extendedprice")).queryExecution.executedPlan)
  }

  test("the window scale rule reports a planted window behind Caches.cache") {
    val p = graft.api.Caches.cache(planted(byFlag))
      .groupBy("l_returnflag").count().queryExecution.executedPlan
    graft.api.Caches.sweepAll(spark)
    assert(collectWithSubqueries(p) { case w: WindowExec => w }.isEmpty,
      s"the planted window must be reachable only through the cache:\n$p")
    assertReported(p)
  }

  test("llm_char_entropy plans as pure explode + hash aggregates (no window, no join)") {
    import org.apache.spark.sql.execution.joins.{BaseJoinExec => BJ}
    // the garbage detector must stay shuffle-minimal at corpus scale: one
    // (id, char) hash agg (map-side combine collapses each partition to the
    // alphabet) + a per-id re-agg — any window or join here is a regression
    val p = plan("llm_char_entropy")
    assert(collectWithSubqueries(p) { case w: WindowExec => w }.isEmpty,
      s"entropy must not window:\n$p")
    assert(collectWithSubqueries(p) { case j: BJ => j }.isEmpty,
      s"entropy must not join:\n$p")
  }

  test("llm_unigram_lm_ppl computes tf once and joins the model by equi-join") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    // tf feeds BOTH the vocab LM derivation and the per-doc score join — it
    // must come from the shared cache, not two token explodes; the only
    // non-equi join allowed is the single-row corpus-total broadcast
    val p = plan("llm_unigram_lm_ppl")
    val ims = collectWithSubqueries(p) { case s: InMemoryTableScanExec => s }
    assert(ims.size >= 2, s"tf should be cached and read twice, got ${ims.size}:\n$p")
    assert(collectWithSubqueries(p) { case c: CartesianProductExec => c }.isEmpty,
      s"no cartesian product allowed:\n$p")
    val bnlj = collectWithSubqueries(p) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.size <= 1,
      s"only the 1-row total broadcast may be a BNLJ, got ${bnlj.size}:\n$p")
    graft.api.Caches.sweep(spark)
  }

  test("llm_bigram_lm_ppl computes gram tf once and joins the model by equi-join") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    // the cached-tf discipline of the unigram twin: one gram explode feeding
    // BOTH the LM derivation and the per-doc score join via the cache — and
    // unlike the unigram path there is NO corpus-total scalar here (the
    // conditionals normalize per context), so not even one BNLJ is allowed
    val p = plan("llm_bigram_lm_ppl")
    val ims = collectWithSubqueries(p) { case s: InMemoryTableScanExec => s }
    assert(ims.size >= 2, s"gram tf should be cached and read twice, got ${ims.size}:\n$p")
    assert(collectWithSubqueries(p) { case c: CartesianProductExec => c }.isEmpty,
      s"no cartesian product allowed:\n$p")
    assert(collectWithSubqueries(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      s"the bigram path has no scalar broadcast — zero BNLJs allowed:\n$p")
    graft.api.Caches.sweep(spark)
  }

  test("llm_trigram_backoff_ppl joins every tier by equi-join (scalars aside)") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    // three gram-keyed LEFT tier joins + inner tier-derivation joins must
    // all plan as equi-joins; the only non-equi shapes allowed are the two
    // single-row scalar broadcasts (train totals into the base tier, the
    // global floor into scoring)
    val p = plan("llm_trigram_backoff_ppl")
    assert(collectWithSubqueries(p) { case c: CartesianProductExec => c }.isEmpty,
      s"no cartesian product allowed:\n$p")
    val bnlj = collectWithSubqueries(p) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.size <= 2,
      s"only the two 1-row scalar broadcasts may be BNLJs, got ${bnlj.size}:\n$p")
  }

  test("llm_dsir_sample joins both models by equi-join (scalars aside)") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    // two tok-keyed LEFT model joins; non-equi shapes are only the four
    // single-row scalar broadcasts (per-side totals + per-side floors)
    val p = plan("llm_dsir_sample")
    assert(collectWithSubqueries(p) { case c: CartesianProductExec => c }.isEmpty,
      s"no cartesian product allowed:\n$p")
    val bnlj = collectWithSubqueries(p) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.size <= 4,
      s"only the four 1-row scalar broadcasts may be BNLJs, got ${bnlj.size}:\n$p")
  }

  test("llm_chunk_stride plans with no shuffle, no join, no window") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec => BJ}
    // the chunker's whole scale claim: per-row projection + one generator
    // explode from the closed-form chunk count — a shuffle, join, or window
    // anywhere before the harness orderBy is a regression. Strip the
    // display sort (the only legitimate exchange) by planning the builder
    // directly, unordered.
    val df = graft.api.Text.chunkStride(
      graft.ops.T.documents(spark, sf), "doc_id", "text", 32, 24)
    val p = df.queryExecution.executedPlan
    assert(collectWithSubqueries(p) { case e: ShuffleExchangeExec => e }.isEmpty,
      s"chunking must not shuffle:\n$p")
    assert(collectWithSubqueries(p) { case j: BJ => j }.isEmpty,
      s"chunking must not join:\n$p")
    assert(collectWithSubqueries(p) { case w: WindowExec => w }.isEmpty,
      s"chunking must not window:\n$p")
  }

  test("llm_winnow_fingerprint plans as one doc-partitioned window, no join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec => BJ}
    // the whole selection is ONE window pass partitioned by id; the closing
    // per-(id, pos) distinct must REUSE that hash(id) clustering (id is a
    // subset of the distinct keys), so a second exchange means the reuse
    // broke. Plan the builder directly (no display sort).
    val df = graft.api.Dedup.winnowFingerprints(
      graft.ops.T.documents(spark, sf), "doc_id", "text", 4, 4)
    val p = df.queryExecution.executedPlan
    assert(collectWithSubqueries(p) { case j: BJ => j }.isEmpty,
      s"winnowing must not join:\n$p")
    val ex = collectWithSubqueries(p) { case e: ShuffleExchangeExec => e }
    assert(ex.size == 1,
      s"exactly the one window shuffle expected, got ${ex.size}:\n$p")
  }

  test("llm_random_projection plans shuffle-free (pure per-row projection)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec => BJ}
    // the direction matrix is a compiled literal and every coordinate one
    // codegen'd vec_dot: any shuffle/join/window before the harness orderBy
    // means the projection stopped being embarrassingly parallel
    val df = graft.api.Vectors.randomProjection(
      graft.ops.T.embeddings(spark, sf), "vec_id", "embedding", 16)
    val p = df.queryExecution.executedPlan
    assert(collectWithSubqueries(p) { case e: ShuffleExchangeExec => e }.isEmpty,
      s"projection must not shuffle:\n$p")
    assert(collectWithSubqueries(p) { case j: BJ => j }.isEmpty,
      s"projection must not join:\n$p")
    assert(collectWithSubqueries(p) { case w: WindowExec => w }.isEmpty,
      s"projection must not window:\n$p")
  }

  test("llm_mixture_weights allows only the single-row total broadcast") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    // one domain-grain aggregate + the 1-row (total, z) broadcast back onto
    // it; any other join shape means the domain frame got corpus-sized
    val p = plan("llm_mixture_weights")
    assert(collectWithSubqueries(p) { case c: CartesianProductExec => c }.isEmpty,
      s"no cartesian product allowed:\n$p")
    val bnlj = collectWithSubqueries(p) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.size <= 1,
      s"only the 1-row total broadcast may be a BNLJ, got ${bnlj.size}:\n$p")
  }

  test("join_skew_salted equals the unsalted join result") {
    import org.apache.spark.sql.functions._
    val salted = q("join_skew_salted")
    val fact = graft.ops.T.lineitem(spark, sf)
      .select((col("l_orderkey") % 3).as("hot_key"), col("l_quantity"))
    val dim = graft.ops.T.region(spark, sf)
      .select((col("r_regionkey") % 3).as("hot_key"), col("r_name"))
    val plain = fact.join(dim, Seq("hot_key"))
      .groupBy("hot_key", "r_name")
      .agg(count(lit(1)).as("n"))
      .orderBy("hot_key", "r_name")
    val a = salted.select("hot_key", "r_name", "n").collect().toSeq
    val b = plain.collect().toSeq
    assert(a == b, s"salted=$a\nplain=$b")
  }

  test("join_fuzzy blocks on an equi-join key, never a cartesian or theta join") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val p = plan("join_fuzzy")
    // the length band and levenshtein verify must ride the prefix-block
    // equi-join's exchange — a BNLJ/cartesian means blocking degenerated
    // into all-pairs
    assert(collectWithSubqueries(p) { case c: CartesianProductExec => c }.isEmpty
      && collectWithSubqueries(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      s"fuzzy join must stay a blocked equi-join:\n$p")
    // the verifier is the THRESHOLDED (banded early-exit) levenshtein
    assert(p.toString.contains("levenshtein"), s"verify stage missing:\n$p")
  }

  test("graph_pagerank reads cached edges/degrees, never a cartesian") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    // the iteration loop must ride the ONE cached edge list + degree frame
    // (5 reads each), not re-derive orders ⋈ lineitem per round; and every
    // per-round join is an equi-join on node keys
    val p = plan("graph_pagerank")
    val ims = collectWithSubqueries(p) { case s: InMemoryTableScanExec => s }
    assert(ims.size >= 6,
      s"expected >=6 in-memory scans (edges x5 + deg), got ${ims.size}:\n$p")
    assert(collectWithSubqueries(p) { case c: CartesianProductExec => c }.isEmpty
      && collectWithSubqueries(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      s"pagerank iterations must be pure equi-joins:\n$p")
    // the expensive fact-side derivation (orders ⋈ lineitem) happens once,
    // inside the cache build — the outer plan reads no parquet but the
    // cache-population scans themselves
    assert(scans(p).size <= 2,
      s"edge derivation must be cached, not re-read per iteration:\n$p")
  }

  test("win_funnel plans with no window and no corpus-sized join") {
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    // the ordered-funnel semantics ride min-after-threshold aggregates —
    // a Window or cartesian anywhere means the per-user sort came back
    val p = plan("win_funnel")
    assert(collectWithSubqueries(p) { case w: WindowExec => w }.isEmpty,
      s"funnel must not use window functions:\n$p")
    assert(collectWithSubqueries(p) { case c: CartesianProductExec => c }.isEmpty,
      s"no cartesian product allowed:\n$p")
  }

  test("win_zscore_anomaly is one user-partitioned window pass") {
    val p = plan("win_zscore_anomaly")
    val ws = collectWithSubqueries(p) { case w: WindowExec => w }
    assert(ws.size === 1, s"expected exactly one WindowExec:\n$p")
    assert(ws.head.partitionSpec.nonEmpty, "window must partition on user_id")
  }

  test("graph_jaccard_sim joins degrees by broadcast, no cartesian, cached edges") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val p = plan("graph_jaccard_sim")
    assert(collectWithSubqueries(p) { case c: CartesianProductExec => c }.isEmpty,
      s"no cartesian product allowed:\n$p")
    // the single BNLJ-shaped join allowed is the 1-row n_capped_nodes
    // crossJoin; anything else means the wedge or degree join degenerated
    val bnlj = collectWithSubqueries(p) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.size <= 1, s"only the 1-row metric crossJoin may BNLJ:\n$p")
    val bhj = collectWithSubqueries(p) { case b: BroadcastHashJoinExec => b }
    assert(bhj.size >= 2,
      s"both degree joins must broadcast the node-grain frame, got ${bhj.size}:\n$p")
  }

  test("llm_source_overlap joins gram-keyed, never doc x doc") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val p = plan("llm_source_overlap")
    assert(collectWithSubqueries(p) { case c: CartesianProductExec => c }.isEmpty
      && collectWithSubqueries(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      s"the source-pair join must stay a gram-keyed equi-join:\n$p")
  }

  test("join_interval_overlap broadcasts the calendar frame onto the orders") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    // the theta-join rewrite's whole point: the order-grain frame joins
    // the calendar-grain cumulative frame by BROADCAST equi-join (twice —
    // once on hi, once on lo) and never shuffles for it
    val p = plan("join_interval_overlap")
    assert(collectWithSubqueries(p) { case c: CartesianProductExec => c }.isEmpty
      && collectWithSubqueries(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      s"the rewrite must stay day-keyed equi-joins:\n$p")
    val bhj = collectWithSubqueries(p) { case b: BroadcastHashJoinExec => b }
    assert(bhj.size >= 2,
      s"both day joins must broadcast the calendar frame, got ${bhj.size}:\n$p")
  }

  test("win_rolling_median is one user-partitioned window pass") {
    val p = plan("win_rolling_median")
    val ws = collectWithSubqueries(p) { case w: WindowExec => w }
    assert(ws.size === 1, s"expected exactly one WindowExec:\n$p")
    assert(ws.head.partitionSpec.nonEmpty, "window must partition on user_id")
  }

  test("agg_assoc_rules joins part-keyed with only the 1-row total BNLJ") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val p = plan("agg_assoc_rules")
    assert(collectWithSubqueries(p) { case c: CartesianProductExec => c }.isEmpty,
      s"no cartesian product allowed:\n$p")
    val bnlj = collectWithSubqueries(p) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.size <= 1,
      s"only the 1-row basket-total crossJoin may BNLJ, got ${bnlj.size}:\n$p")
  }

  test("llm_minhash_est_err pairs via equi-joins only") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val p = plan("llm_minhash_est_err")
    assert(collectWithSubqueries(p) { case c: CartesianProductExec => c }.isEmpty
      && collectWithSubqueries(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      s"signature/common joins must stay equi-keyed:\n$p")
  }

  test("win_ewma is one user-partitioned window pass, no joins") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val p = plan("win_ewma")
    val ws = collectWithSubqueries(p) { case w: WindowExec => w }
    assert(ws.size === 1, s"the 20 lags must share one WindowExec:\n$p")
    assert(ws.head.partitionSpec.nonEmpty, "window must partition on user_id")
    assert(collectWithSubqueries(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
  }

  test("stream_cdc_apply windows share one user_id exchange, no joins") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val p = plan("stream_cdc_apply")
    val ws = collectWithSubqueries(p) { case w: WindowExec => w }
    assert(ws.nonEmpty && ws.size <= 2,
      s"rank + partition counts must plan as at most two window nodes:\n$p")
    assert(ws.forall(_.partitionSpec.nonEmpty))
    // one hash exchange for the windows, one range exchange for the orderBy
    val ex = collectWithSubqueries(p) { case e: ShuffleExchangeExec => e }
    assert(ex.size <= 2, s"cdc must not reshuffle between its windows:\n$p")
    assert(collectWithSubqueries(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
  }

  test("llm_pmi_bigrams joins vocab-keyed; only the two 1-row totals BNLJ") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val p = plan("llm_pmi_bigrams")
    assert(collectWithSubqueries(p) { case c: CartesianProductExec => c }.isEmpty,
      s"no cartesian product allowed:\n$p")
    val bnlj = collectWithSubqueries(p) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.size <= 2,
      s"only the two 1-row total crossJoins may BNLJ, got ${bnlj.size}:\n$p")
  }

  test("llm_readability is shuffle-free map work before the output sort") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val p = plan("llm_readability")
    val ex = collectWithSubqueries(p) { case e: ShuffleExchangeExec => e }
    assert(ex.size <= 1, s"only the final orderBy may exchange:\n$p")
    assert(collectWithSubqueries(p) { case w: WindowExec => w }.isEmpty)
  }

  test("llm_doc_outlier joins the label codebook broadcast; corpus never shuffle-joins") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val p = plan("llm_doc_outlier")
    val bhj = collectWithSubqueries(p) { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty, s"expected a broadcast codebook join:\n$p")
    assert(collectWithSubqueries(p) { case s: SortMergeJoinExec => s }.isEmpty,
      s"the corpus side must not sort-merge:\n$p")
  }

  test("llm_score_linear is shuffle-free map work before the output sort") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val p = plan("llm_score_linear")
    val ex = collectWithSubqueries(p) { case e: ShuffleExchangeExec => e }
    assert(ex.size <= 1, s"only the final orderBy may exchange:\n$p")
    assert(collectWithSubqueries(p) { case w: WindowExec => w }.isEmpty)
  }

  test("agg_rank_movers windows partition on month; join is part+month-keyed") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val p = plan("agg_rank_movers")
    assert(collectWithSubqueries(p) { case c: CartesianProductExec => c }.isEmpty
      && collectWithSubqueries(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      s"rank self-join must stay equi-keyed:\n$p")
    val ws = collectWithSubqueries(p) { case w: WindowExec => w }
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty),
      s"rank windows must partition on month, never global:\n$p")
  }

  test("llm_hash_split is aggregate-only plus the 1-row total") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val p = plan("llm_hash_split")
    assert(collectWithSubqueries(p) { case c: CartesianProductExec => c }.isEmpty)
    assert(collectWithSubqueries(p) { case w: WindowExec => w }.isEmpty,
      s"split must not plan a window:\n$p")
    val bnlj = collectWithSubqueries(p) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.size <= 1,
      s"only the 1-row total crossJoin may BNLJ, got ${bnlj.size}:\n$p")
  }

  test("src_quality_rules folds row-grain rules into one scan per table") {
    // 8 row-grain rules over 4 tables = 4 scans; +2 uniqueness passes
    // (orders, documents) + the FK pair (lineitem keys, orders keys) = 8
    // scans total. One-scan-per-rule would be 11+.
    val n = scans(plan("src_quality_rules")).size
    assert(n <= 8, s"quality suite scans $n times (> 1 per rule group):\n" +
      s"${plan("src_quality_rules")}")
  }

  test("agg_drift_psi reads events only to build the cached bin counts") {
    // the bin-count frame is cached (four consumers); every consumer must
    // ride the InMemoryTableScan — a direct file scan outside the cache
    // build means a consumer re-derived the events aggregate
    val p = plan("agg_drift_psi")
    assert(scans(p).isEmpty,
      s"a PSI consumer bypassed the bin-count cache:\n$p")
    val imts = collectWithSubqueries(p) { case s: InMemoryTableScanExec => s }
    assert(imts.nonEmpty, s"expected cached bin counts in the plan:\n$p")
    // the cache build itself: bounds pass + binned pass = 2 events scans
    val inner = scans(imts.head.relation.cachedPlan)
    assert(inner.size == 2,
      s"cache build must be bounds-pass + binned pass, got ${inner.size}:\n" +
        s"${imts.head.relation.cachedPlan}")
  }
}
