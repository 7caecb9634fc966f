package graft

import org.apache.spark.sql.functions._
import graft.api.{Dedup, Fts, Text, Vectors}

import java.sql.Timestamp

/** The parameterized API surface (graft.api.*) exercised on LITERAL frames —
  * proving the operators are reusable builders over arbitrary conforming
  * inputs, not fixture-bound query shapes.
  */
class ApiSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  // ------------------------------------------------------------------- Fts

  test("successRate computes per-key ratios on a literal frame") {
    import spark.implicits._
    val ev = Seq(
      (1L, "ok"), (1L, "ok"), (1L, "error"), (1L, "ok"),
      (2L, "error"), (2L, "error")).toDF("link", "status")
    val r = Fts.successRate(ev, Seq("link"), col("status") === "error")
      .orderBy("link")
      .select("link", "n_events", "n_errors", "success_rate")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(r == Seq((1L, 4L, 1L, 0.75), (2L, 2L, 2L, 0.0)))
  }

  test("timeBucket groups into tumbling windows on a literal frame") {
    import spark.implicits._
    val ev = Seq(
      (ts("2024-01-01 10:05:00"), "a", 1.5),
      (ts("2024-01-01 10:55:00"), "a", 2.5),
      (ts("2024-01-01 11:05:00"), "a", 4.0),
      (ts("2024-01-01 10:10:00"), "b", 8.0)).toDF("ts", "kind", "v")
    val r = Fts.timeBucket(ev, "ts", "1 hour", Seq("kind"), col("v"))
      .orderBy("bucket_start", "kind")
      .select("kind", "n", "sum_value").as[(String, Long, Double)].collect().toSeq
    assert(r == Seq(("a", 2L, 4.0), ("b", 1L, 8.0), ("a", 1L, 4.0)))
  }

  test("topKPerGroup keeps k rows per group in order") {
    import spark.implicits._
    val df = Seq(("g1", 10, 1), ("g1", 10, 2), ("g1", 5, 3), ("g1", 1, 4),
      ("g2", 7, 5)).toDF("g", "score", "id")
    val r = Fts.topKPerGroup(df, Seq("g"), Seq(col("score").desc, col("id").asc), 2)
      .orderBy("g", "rn").select("g", "id", "rn", "rk", "drk")
      .as[(String, Int, Int, Int, Int)].collect().toSeq
    // the id tiebreak makes the ordering total, so rk/drk coincide with rn
    assert(r == Seq(("g1", 1, 1, 1, 1), ("g1", 2, 2, 2, 2), ("g2", 5, 1, 1, 1)))
  }

  test("resampleFill fills interior gaps with zeros") {
    import spark.implicits._
    val df = Seq((100L, 1.0), (100L, 2.0), (400L, 5.0)).toDF("b", "v")
    val r = Fts.resampleFill(df, col("b"), 100L, col("v"))
      .orderBy("bucket").as[(Long, Long, Double)].collect().toSeq
    assert(r == Seq((100L, 2L, 3.0), (200L, 0L, 0.0), (300L, 0L, 0.0), (400L, 1L, 5.0)))
  }

  test("asofLastBefore carries the latest prior reference row") {
    import spark.implicits._
    val df = Seq(
      (1L, 1L, "click"), (1L, 2L, "view"), (1L, 3L, "error"),
      (1L, 4L, "click"), (1L, 5L, "error"), (2L, 6L, "error"))
      .toDF("user", "seq", "kind")
    val r = Fts.asofLastBefore(df, Seq("user"), Seq("seq"),
        col("kind") === "click", Seq("seq"))
      .filter(col("kind") === "error")
      .orderBy("seq")
      .select(col("seq"), col("asof_seq")).as[(Long, Option[Long])].collect().toSeq
    assert(r == Seq((3L, Some(1L)), (5L, Some(4L)), (6L, None)))
  }

  // ----------------------------------------------------------------- Dedup

  test("minhashPairs finds planted near-identical docs on a literal corpus") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet town square"
    val docs = Seq(
      (1L, base),
      (2L, base + " x"), // near-identical to 1
      (3L, "completely different content that shares absolutely nothing with any of the others here today"),
      (4L, "yet another unrelated document body with its own distinct vocabulary and phrasing entirely"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.8)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) == Seq((1L, 2L)))
    assert(pairs.head._3 >= 0.8)
  }

  test("saltedBandPairs emits each in-bucket pair exactly once") {
    import spark.implicits._
    // two buckets: (0, 100L) holds ids 1..4, (1, 200L) holds ids 3..5
    val sig = (Seq((1L, 0, 100L), (2L, 0, 100L), (3L, 0, 100L), (4L, 0, 100L)) ++
      Seq((3L, 1, 200L), (4L, 1, 200L), (5L, 1, 200L)))
      .toDF("id", "band", "bsig")
    val pairs = Dedup.saltedBandPairs(sig, salt = 4)
      .as[(Long, Long)].collect().toSeq.sorted
    val expected = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (3L, 5L), (4L, 5L)).sorted
    assert(pairs == expected)
  }

  test("saltedBandPairs spreads a hot bucket's pairs ~evenly over the salt grid") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the 100 TB skew claim, asserted: a mass-duplication bucket of k=1000
    // docs produces k(k-1)/2 = 499500 candidate pairs; the two-sided grid
    // salt must spread them over all s×s blocks (each block one join task's
    // work unit) at ~k²/(2·salt) pairs each — NOT one k²-pair task. Each
    // pair meets in exactly ONE grid block (a's own-axis salt × b's
    // own-axis salt), so recomputing the block key from the output pairs
    // reproduces the per-task pair distribution exactly.
    val k = 1000
    val salt = 16
    val s = 4 // ceil(sqrt(16))
    val sig = (0 until k).map(i => (i.toLong, 0, 42L)).toDF("id", "band", "bsig")
    val blocks = Dedup.saltedBandPairs(sig, salt)
      .groupBy(pmod(xxhash64(col("a_id")), lit(s.toLong)).as("ba"),
        pmod(xxhash64(col("b_id")), lit(s.toLong)).as("bb"))
      .count().as[(Long, Long, Long)].collect()
    val total = blocks.map(_._3).sum
    assert(total == k.toLong * (k - 1) / 2, "pair universe must be complete")
    assert(blocks.length == s * s, "every grid block must carry work")
    val mean = total.toDouble / (s * s)
    val maxBlock = blocks.map(_._3).max
    // xxhash64 spreads ids ~uniformly: the largest task's share must stay
    // within 1.5× the ideal k²/(2·salt) split (observed ≈1.1×)
    assert(maxBlock <= 1.5 * mean,
      s"hot-bucket skew: max block $maxBlock vs ideal $mean")
  }

  test("dedup builders tolerate degenerate inputs (short docs, empty pair sets)") {
    import spark.implicits._
    // docs shorter than the shingle/ngram size must be dropped, not explode
    // into descending-sequence garbage (Spark sequence(1, stop<1) descends)
    val tiny = Seq((1L, "ab"), (2L, "x y")).toDF("doc_id", "text")
    assert(Dedup.shingleHashes(tiny, "doc_id", "text").count() == 0)
    assert(Dedup.minhashPairs(tiny, "doc_id", "text").count() == 0)
    assert(Dedup.ngramJaccardPairs(tiny, "doc_id", "text").count() == 0)
    // an empty pair frame must yield an empty component frame, not an NPE
    val noPairs = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(Dedup.connectedComponents(noPairs).count() == 0)
  }

  /** Runs `body` and counts the Spark jobs it starts. Listener events
    * arrive on the bus thread, and there is no public listener-bus drain
    * API: count atomically (JMM visibility) and poll until the count, and
    * `alsoSettled` (another listener's progress), stop moving.
    */
  private def countingJobs[A](alsoSettled: => Int = 0)(body: => A): (A, Int) = {
    val jobCounter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobCounter.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      var prev = (-1, -1)
      var stable = 0
      var attempts = 0
      while (stable < 3 && attempts < 20) { // <=2 s; counts plateau fast
        Thread.sleep(100)
        attempts += 1
        val now = (jobCounter.get(), alsoSettled)
        if (now == prev) stable += 1 else { stable = 0; prev = now }
      }
      (out, jobCounter.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("connectedComponents collapses transitive near-dup chains") {
    import spark.implicits._
    // chain 1-2-3 (1!~3 directly), pair 4-5, and a 1000-node chain
    // 1000..2000 (diameter 1000 — the shape that kills O(diameter)
    // min-label propagation; serial boilerplate edits produce exactly this).
    // Pointer doubling must collapse it in O(log n) rounds WITHOUT raising
    // the default maxIter.
    val chain = (1000L until 2000L).map(i => (i, i + 1))
    val pairs = (Seq((1L, 2L), (2L, 3L), (4L, 5L)) ++ chain).toDF("a_id", "b_id")
    // start from a clean slate so the block-hygiene assertion below sees
    // only this builder's blocks, not earlier tests' caches
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    val ((comp, rounds), jobs) = countingJobs() {
      val (compDf, r) = Dedup.connectedComponentsWithRounds(pairs)
      (compDf.as[(Long, Long)].collect().toMap, r)
    }
    // the direct observable behind the job-count proxy below: pointer
    // doubling halves the label-chain depth per round, so the 1000-link
    // chain closes in ~log2(1000)=10 rounds + the one round that finds no
    // change — an O(diameter) propagation would need ~1000
    assert(rounds <= 14, s"expected O(log n) CC rounds, ran $rounds")
    assert(Seq(1L, 2L, 3L).forall(comp(_) == 1L))
    assert(Seq(4L, 5L).forall(comp(_) == 4L))
    assert((1000L to 2000L).forall(comp(_) == 1000L))
    assert(comp.size == 1006)
    // O(log n) rounds (~10 for the 1000-chain; AQE splits each round's
    // checkpoint into per-shuffle-stage jobs, measured ~75 total) —
    // O(diameter) min-label propagation would need ~1000 rounds here, i.e.
    // an order of magnitude more jobs and a blown iteration cap
    assert(jobs < 200, s"expected O(log n) job count, saw $jobs")
    // only the returned frame's blocks may remain materialized
    assert(spark.sparkContext.getPersistentRDDs.size <= 1,
      "intermediate CC rounds must unpersist their blocks")
    // a round budget too small for convergence must fail loudly, not return
    // split clusters
    val deep = (100L until 104L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(deep, maxIter = 1)
    }
  }

  test("connectedComponents handles ids near Long.MaxValue") {
    import spark.implicits._
    // 64-bit hashed doc ids: the label sum of even a 3-node chain exceeds
    // a Long, so the convergence probe must not sum in Long arithmetic
    val m = Long.MaxValue
    val pairs = Seq((m - 1, m - 2), (m - 2, m - 3)).toDF("a_id", "b_id")
    val comp = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    assert(comp == Map((m - 1) -> (m - 3), (m - 2) -> (m - 3), (m - 3) -> (m - 3)))
  }

  test("connectedComponents: a pair with a null endpoint is not an edge") {
    import spark.implicits._
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), Some(3L)), (None, Some(4L)),
      (Some(5L), None), (Some(7L), Some(8L)), (None, None)).toDF("a_id", "b_id")
    val comp = Dedup.connectedComponents(pairs)
      .as[(Option[Long], Option[Long])].collect().toSet
    assert(comp == Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L)
      .map { case (i, c) => (Option(i), Option(c)) }, s"got $comp")
  }

  test("connectedComponents on two edges: <= 16 jobs; the jump reuses the hook's shuffle") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{SparkPlan, joins}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    // the graph_components solver input at sf0.1: two edges, two components
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("a_id", "b_id")
    graft.api.Caches.sweepAll(spark)
    // every round's state is written by one eager localCheckpoint action
    val checkpoints = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val plans = new QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") checkpoints.add(qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(plans)
    val ((compDf, rounds), jobs) =
      try countingJobs(checkpoints.size)(Dedup.connectedComponentsWithRounds(pairs))
      finally spark.listenerManager.unregister(plans)
    assert(compDf.as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
    // edges + initial state + one round, each checkpointed once, and two
    // single-stage probes: measured 10 (a cached hook, a separate first
    // hook round and two-job aggregate probes made it 23)
    assert(jobs <= 16, s"CC on two edges ran $jobs jobs")
    // the initial state is already the first hook, so the one round finds
    // no change
    assert(rounds == 1, s"ran $rounds rounds")
    object aqe extends AdaptiveSparkPlanHelper
    import scala.jdk.CollectionConverters._
    val roundPlans = checkpoints.asScala.toSeq.filter(p => aqe.collect(p) {
      case j: joins.BaseJoinExec => j }.nonEmpty)
    assert(roundPlans.size == 1, s"expected one round's checkpoint, got ${checkpoints.size} plans")
    roundPlans.foreach { p =>
      assert(aqe.collect(p) { case r: ReusedExchangeExec => r }.nonEmpty,
        s"the jump's second side must reuse the hook's exchange:\n$p")
      assert(aqe.collect(p) { case m: InMemoryTableScanExec => m }.isEmpty,
        s"a round must not persist its hook:\n$p")
    }
    graft.api.Caches.sweepAll(spark)
  }

  test("open-ended graph solvers free every superseded round") {
    import spark.implicits._
    import graft.api.{Caches, Graph}
    def clean(): Unit = {
      Caches.sweep(spark)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    def held = spark.sparkContext.getPersistentRDDs.size
    // a chorded 8-ring with a 3-node tail: the tail peels one node per
    // k-core round, and pagerank needs many rounds to settle
    val g = sym((1L to 8L).map(i => (i, i % 8 + 1)) ++
      Seq((1L, 5L), (8L, 9L), (9L, 10L), (10L, 11L)))
    clean()
    val (ranks, pr) = Graph.pagerankUntil(g, eps = 1e-9, maxIters = 30)
    Caches.sweep(spark)
    assert(pr > 2 && held <= 1,
      s"pagerankUntil held $held RDDs after $pr rounds; only its result may stay")
    assert(ranks.count() == 11)
    clean()
    val (core, kr) = Graph.kcoreUntil(g, k = 2)
    Caches.sweep(spark)
    assert(kr == 4 && held <= 1,
      s"kcoreUntil held $held RDDs after $kr rounds; only its result may stay")
    assert(core.select("node").as[Long].collect().toSet == (1L to 8L).toSet)
    clean()
    // the bounded peel holds the same state: before any sweep, only the
    // edge cache and the final round's checkpoint, not one frame per round
    val bounded = Graph.kcore(g, k = 2, rounds = 3)
    assert(bounded.select("node").as[Long].collect().toSet == (1L to 8L).toSet)
    assert(held <= 2, s"kcore(rounds = 3) held $held RDDs before any sweep")
    clean()
    // cycle 1-4 feeding cycle 5-6, a source 7 and a sink 8
    val directed = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (4L, 5L),
      (5L, 6L), (6L, 5L), (7L, 1L), (6L, 8L)).toDF("src", "dst")
    val (scc, st) = Graph.stronglyConnectedWithStats(directed)
    Caches.sweep(spark)
    // only the assigned frames (one per productive trim round, one per
    // phase) back the result
    assert(held <= st("trim_rounds") + st("phases"),
      s"stronglyConnected held $held RDDs with stats $st")
    assert(st("reach_rounds") > 1 && st("mark_rounds") > 1, s"stats $st")
    assert(scc.as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 5L,
        7L -> 7L, 8L -> 8L))
    clean()
  }

  test("Caches.sweep frees every block the pair builders persist") {
    import spark.implicits._
    import graft.api.Caches
    // clean slate: earlier tests may have left builder caches behind
    Caches.sweep(spark)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "some altogether different body of text that is not similar at all"))
      .toDF("doc_id", "text")
    val rnd = new scala.util.Random(5)
    val emb = (0 until 10).map(i => (i.toLong, Array.fill(32)(rnd.nextGaussian())))
      .toDF("id", "vec")
    // consume one builder from each family, then sweep
    Dedup.minhashPairs(docs, "doc_id", "text").count()
    Dedup.ngramJaccardPairs(docs, "doc_id", "text").count()
    Dedup.simhashPairs(docs, "doc_id", "text").count()
    Text.tfidfTopK(docs, "doc_id", "text").count()
    Vectors.signLshPairs(emb, "id", "vec").count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "builders should have persisted interior frames")
    Caches.sweep(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "sweep must free every builder-persisted block")
    // idempotent
    Caches.sweep(spark)
  }

  // ------------------------------------------------------------------ Text

  test("qualityFlags scores and filters a literal corpus") {
    import spark.implicits._
    val good = ("w " * 60).trim + " tail"                 // 61 toks, few stopwords
    val stoppy = ("the a of and to in " * 12).trim        // all stopwords
    val docs = Seq((1L, good, good.length.toLong), (2L, stoppy, stoppy.length.toLong),
      (3L, "short", 5L)).toDF("doc_id", "text", "n_chars")
    val r = Text.qualityFlags(docs, "text", "n_chars", Seq("the", "a", "of", "and", "to", "in"))
      .select("doc_id", "kept").as[(Long, Boolean)].collect().toMap
    assert(r(1L) && !r(2L) && !r(3L))
  }

  test("tfidfTopK ranks distinctive tokens above common ones") {
    import spark.implicits._
    val docs = Seq(
      (1L, "shared shared zebra zebra zebra"),
      (2L, "shared shared apple"),
      (3L, "shared banana banana")).toDF("doc_id", "text")
    val top1 = Text.tfidfTopK(docs, "doc_id", "text", k = 1)
      .select("id", "tok").as[(Long, String)].collect().toMap
    assert(top1 == Map(1L -> "zebra", 2L -> "apple", 3L -> "banana"))
  }

  test("langIdPredictions recovers the language of distinctive literal docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "bonjour le monde le monde", "fr"),
      (2L, "bonjour le chat le chien", "fr"),
      (3L, "hello the world the world", "en"),
      (4L, "hello the cat the dog", "en")).toDF("doc_id", "text", "lang")
    val preds = Text.langIdPredictions(docs, "doc_id", "text", "lang")
      .select("id", "pred_lang").as[(Long, String)].collect().toMap
    assert(preds == Map(1L -> "fr", 2L -> "fr", 3L -> "en", 4L -> "en"))
  }

  test("tokenCounts segments whitespace and regex tokens") {
    import spark.implicits._
    val r = Text.tokenCounts(Seq(("ab cd12 ef", 1)).toDF("text", "x"), "text")
      .select("n_ws", "n_re", "n_bpe4").as[(Int, Int, Int)].head()
    assert(r == ((3, 4, 3))) // ws: 3; re: ab,cd,12,ef; bpe4: ab,cd,ef (letters only)
  }

  test("unigramNll scores rare-token docs above common-token docs, exact on a tiny LM") {
    import spark.implicits._
    // corpus LM: p(x)=3/4, p(y)=1/4 -> nll(doc1)= -ln(3/4), nll(doc2)= -ln(1/4)
    val docs = Seq((1L, "x x x"), (2L, "y")).toDF("doc_id", "text")
    val r = Text.unigramNll(docs, "doc_id", "text")
      .orderBy("id").select("id", "n_toks", "nll", "ppl")
      .as[(Long, Long, Double, Double)].collect().toSeq
    graft.api.Caches.sweep(spark)
    assert(r.map(_._1) == Seq(1L, 2L) && r.map(_._2) == Seq(3L, 1L))
    assert(math.abs(r(0)._3 - -math.log(0.75)) < 1e-5)
    assert(math.abs(r(1)._3 - -math.log(0.25)) < 1e-5)
    assert(r(1)._3 > r(0)._3) // rare wording scores worse (higher nll)
    assert(math.abs(r(0)._4 - math.exp(r(0)._3)) < 1e-9)
  }

  test("bigramNll scores exact conditional probabilities on a tiny LM") {
    import spark.implicits._
    // bigram counts: "x y"=2, "y x"=1, "x z"=1; contexts: x=3, y=1
    // doc1 nll = -(2·ln(2/3) + 1·ln 1)/3; doc2 nll = -ln(1/3)
    // doc3 has a single token -> no bigrams -> no output row
    val docs = Seq((1L, "x y x y"), (2L, "x z"), (3L, "w"))
      .toDF("doc_id", "text")
    val r = Text.bigramNll(docs, "doc_id", "text")
      .orderBy("id").select("id", "n_bigrams", "nll", "ppl")
      .as[(Long, Long, Double, Double)].collect().toSeq
    graft.api.Caches.sweep(spark)
    assert(r.map(_._1) == Seq(1L, 2L) && r.map(_._2) == Seq(3L, 1L))
    assert(math.abs(r(0)._3 - (-2 * math.log(2.0 / 3) / 3)) < 1e-5)
    assert(math.abs(r(1)._3 - -math.log(1.0 / 3)) < 1e-5)
    // conditional signal: doc2 takes the RARE continuation of "x" (z, 1/3)
    // and must score strictly worse than doc1's corpus-normal wording
    assert(r(1)._3 > r(0)._3)
  }

  test("unigramNllScored floors OOV tokens: an all-OOV doc scores worse than in-vocab") {
    import spark.implicits._
    // train LM: x=3, y=1 -> total=4, V=2; add-one: p(x)=(3+1)/7, p(oov)=1/7
    val train = Seq((0L, "x x x y")).toDF("doc_id", "text")
    val score = Seq((1L, "x x"), (2L, "q z")).toDF("doc_id", "text")
    val r = Text.unigramNllScored(train, score, "doc_id", "text")
      .orderBy("id").select("id", "n_toks", "n_oov", "nll", "ppl")
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    assert(r.map(_._1) == Seq(1L, 2L))
    assert(r.map(_._3) == Seq(0L, 2L)) // OOV positions counted per doc
    assert(math.abs(r(0)._4 - -math.log(4.0 / 7)) < 1e-5)
    assert(math.abs(r(1)._4 - math.log(7.0)) < 1e-5)
    // the fixed defect: the self-trained inner join would have DROPPED the
    // unseen tokens; here the all-OOV doc scores strictly WORSE
    assert(r(1)._4 > r(0)._4)
    assert(math.abs(r(1)._5 - math.exp(r(1)._4)) < 1e-9)
  }

  test("bigramNllScored applies the two-tier add-one floor on unseen grams") {
    import spark.implicits._
    // train bigrams: "x y"=2, "y x"=1; contexts: x=2, y=1; V(second words)=2
    val train = Seq((0L, "x y x y")).toDF("doc_id", "text")
    val score = Seq((1L, "x y"), (2L, "x q"), (3L, "q z"))
      .toDF("doc_id", "text")
    val r = Text.bigramNllScored(train, score, "doc_id", "text")
      .orderBy("id").select("id", "n_bigrams", "n_oov", "nll", "ppl")
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    assert(r.map(_._1) == Seq(1L, 2L, 3L))
    assert(r.map(_._3) == Seq(0L, 1L, 1L))
    // known gram: (2+1)/(2+2+1); unseen gram/known ctx: 1/(2+2+1);
    // unknown ctx: 1/(V+1)
    assert(math.abs(r(0)._4 - -math.log(3.0 / 5)) < 1e-5)
    assert(math.abs(r(1)._4 - math.log(5.0)) < 1e-5)
    assert(math.abs(r(2)._4 - math.log(3.0)) < 1e-5)
    // every OOV tier scores worse than in-vocab, and the novel continuation
    // of a well-evidenced context is the worst (documented Laplace asymmetry)
    assert(r(1)._4 > r(2)._4 && r(2)._4 > r(0)._4)
  }

  test("trigramBackoffNll walks the three stupid-backoff tiers with exact scores") {
    import spark.implicits._
    // train "x y z x y z": c3("x y z")=2, c3("y z x")=1, c3("z x y")=1;
    // c2("x y")=2, c2("y z")=2, c2("z x")=1; c1(x)=c1(y)=c1(z)=2,
    // total=6, V=3. Tiers: seen trigram c3/c2(prefix); backoff
    // 0.4·c2(suffix)/c1(w2); base 0.4²·(c1(w3)+1)/10 with OOV the c=0 case.
    val train = Seq((0L, "x y z x y z")).toDF("doc_id", "text")
    val score = Seq(
      (1L, "x y z"), // seen trigram: ln(2/2) = 0
      (2L, "y z x"), // seen trigram: ln(1/2)
      (3L, "q x y"), // unseen tri, seen bigram "x y": ln(0.4·2/2)
      (4L, "x y q")  // unseen tri+bi, OOV w3: ln(0.4²·1/10)
    ).toDF("doc_id", "text")
    val a2 = 0.4 * 0.4
    val r = Text.trigramBackoffNll(train, score, "doc_id", "text")
      .orderBy("id")
      .select("id", "n_trigrams", "n_bo2", "n_bo1", "nll", "ppl")
      .as[(Long, Long, Long, Long, Double, Double)].collect().toSeq
    assert(r.map(_._1) == Seq(1L, 2L, 3L, 4L))
    assert(r.map(_._2) == Seq(1L, 1L, 1L, 1L))
    assert(r.map(_._3) == Seq(0L, 0L, 1L, 1L)) // fell past the trigram tier
    assert(r.map(_._4) == Seq(0L, 0L, 0L, 1L)) // fell past the bigram tier too
    assert(math.abs(r(0)._5 - 0.0) < 1e-5)
    assert(math.abs(r(1)._5 - math.log(2.0)) < 1e-5)
    assert(math.abs(r(2)._5 - -math.log(0.4)) < 1e-5)
    assert(math.abs(r(3)._5 - -math.log(a2 / 10.0)) < 1e-5)
    // deeper backoff = more surprise: each tier scores strictly worse
    assert(r(0)._5 < r(1)._5 && r(1)._5 < r(2)._5 && r(2)._5 < r(3)._5)
    assert(math.abs(r(3)._6 - math.exp(r(3)._5)) < 1e-6)
  }

  test("dsirLogRatios scores target-like docs positive and background docs negative") {
    import spark.implicits._
    // target "x x x y": p_t(x)=4/7, p_t(y)=2/7, floor_t=1/7
    // raw corpus = both docs: x=3, y=1, q=4 -> total=8, V=3:
    // p_r(x)=4/12, p_r(y)=2/12, p_r(q)=5/12, floor_r=1/12
    val target = Seq((0L, "x x x y")).toDF("doc_id", "text")
    val raw = Seq((1L, "x x x y"), (2L, "q q q q")).toDF("doc_id", "text")
    val r = Text.dsirLogRatios(target, raw, "doc_id", "text")
      .orderBy("id")
      .select("id", "n_toks", "n_oov_t", "logratio", "kept")
      .as[(Long, Long, Long, Double, Boolean)].collect().toSeq
    assert(r.map(_._1) == Seq(1L, 2L))
    assert(r.map(_._3) == Seq(0L, 4L))
    // doc1: every token has d = ln(p_t) - ln(p_r) = ln(12/7)
    assert(math.abs(r(0)._4 - math.log(12.0 / 7)) < 1e-5)
    // doc2: all-OOV under the target -> floor_t vs p_r(q): ln((1/7)/(5/12))
    assert(math.abs(r(1)._4 - math.log(12.0 / 35)) < 1e-5)
    assert(r(0)._5 && !r(1)._5)
  }

  test("dupSpanFractions marks cross-doc gram positions, not within-doc repeats") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"), // grams: "a b" (shared), "b c", "c d" -> 1/3 dup
      (2L, "a b x y"), // "a b" (shared), "b x", "x y"        -> 1/3 dup
      (3L, "p q p q"), // "p q"×2 + "q p": repeats only WITHIN doc3 -> 0 dup
      (4L, "a b"),     // single span, shared                  -> 1.0 dup
      (5L, "z")        // < n tokens: no spans, no row
    ).toDF("doc_id", "text")
    val r = Dedup.dupSpanFractions(docs, "doc_id", "text", n = 2,
        maxDupFrac = 0.4)
      .orderBy("id")
      .select("id", "n_spans", "n_dup", "dup_frac", "kept")
      .as[(Long, Long, Long, Double, Boolean)].collect().toSeq
    graft.api.Caches.sweep(spark)
    assert(r.map(_._1) == Seq(1L, 2L, 3L, 4L))
    assert(r.map(_._2) == Seq(3L, 3L, 3L, 1L))
    assert(r.map(_._3) == Seq(1L, 1L, 0L, 1L))
    assert(math.abs(r(0)._4 - 1.0 / 3) < 1e-9 && r(0)._5) // 0.333 <= 0.4
    assert(r(2)._4 == 0.0 && r(2)._5)
    assert(r(3)._4 == 1.0 && !r(3)._5)
  }

  test("winnowFingerprints matches a reference robust-winnowing replay") {
    import spark.implicits._
    val text = "the quick brown fox jumps over the lazy dog and then " +
      "the quick brown fox returns home again tonight"
    val docs = Seq((1L, text), (2L, "too short here")).toDF("doc_id", "text")
    val r = Dedup.winnowFingerprints(docs, "doc_id", "text",
        kGram = 4, window = 4)
      .orderBy("id", "fp_pos")
      .select("id", "fp_pos", "fp", "n_grams")
      .as[(Long, Long, String, Long)].collect().toSeq

    // reference: md5 word-4-gram hashes; every full window of 4 selects its
    // minimum, ties to the RIGHTMOST position (Schleimer et al. 2003 fig. 5)
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val hashes = text.split(" ").sliding(4).map(g => md5hex(g.mkString(" "))).toArray
    val expected = (0 to hashes.length - 4).map { s =>
      val m = (s until s + 4).map(hashes).min
      val pos = (s until s + 4).filter(i => hashes(i) == m).max
      ((pos + 1).toLong, hashes(pos))
    }.distinct.sortBy(_._1)

    assert(r.filter(_._1 == 1L).map(x => (x._2, x._3)) == expected)
    assert(r.filter(_._1 == 1L).forall(_._4 == hashes.length.toLong))
    // 3 tokens < kGram + window - 1: no full window, no rows
    assert(!r.exists(_._1 == 2L))
    // the winnowing coverage guarantee: every full window holds a selection
    val sel = expected.map(_._1).toSet
    assert((1 to hashes.length - 3).forall(s =>
      (s until s + 4).exists(i => sel.contains(i.toLong))))
  }

  // Sennrich et al.'s example corpus plus an aaaa word to pin the greedy
  // within-run pairing ("a a a a" under (a,a) must merge to "aa aa")
  private val bpeClassic = Seq(
    (1L, "low low low low low lower lower newest newest"),
    (2L, "newest newest newest newest widest widest widest aaaa aaaa"))

  /** Reference BPE: word-freq table, repeat (count pairs naively, argmax
    * with (count desc, lhs, rhs), apply greedy left-to-right merge) for
    * `steps` steps or until no pair is left.
    */
  private def bpeReference(texts: Seq[String],
      steps: Int): Seq[(Int, String, String, String, Long)] = {
    var vocab: Map[List[String], Long] =
      texts.flatMap(_.split(" ")).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, ws) =>
          (codePoints(w), ws.length.toLong) }
    (1 to steps).iterator.map { step =>
      val counts = vocab.toSeq.flatMap { case (t, f) =>
        t.zip(t.tail).map(p => (p, f)) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      if (counts.isEmpty) None
      else {
        val ((a, b), c) = counts.minBy { case ((x, y), n) => (-n, x, y) }
        def greedy(t: List[String]): List[String] = t match {
          case `a` :: `b` :: rest => (a + b) :: greedy(rest)
          case h :: rest => h :: greedy(rest)
          case Nil => Nil
        }
        vocab = vocab.groupBy { case (t, _) => greedy(t) }
          .map { case (t, m) => (t, m.values.sum) }
        Some((step, a, b, a + b, c))
      }
    }.takeWhile(_.isDefined).flatten.toList
  }

  /** A word's initial BPE tokens as Spark's `split(w, "")` yields them, one
    * per code point (Java's `split("")` cuts a surrogate pair in two).
    */
  private def codePoints(w: String): List[String] =
    w.codePoints.toArray.toList.map(cp => new String(Character.toChars(cp)))

  /** Sequential reference application: per doc, (id, words, tokens after
    * folding `merges` greedily over each word in order).
    */
  private def bpeApplyReference(docs: Seq[(Long, String)],
      merges: Seq[(String, String)]): Seq[(Long, Long, Long)] = {
    def greedy(t: List[String], a: String, b: String): List[String] = t match {
      case `a` :: `b` :: rest => (a + b) :: greedy(rest, a, b)
      case h :: rest => h :: greedy(rest, a, b)
      case Nil => Nil
    }
    def applyAll(w: String): Int =
      merges.foldLeft(codePoints(w)) { case (t, (a, b)) => greedy(t, a, b) }.length
    docs.map { case (id, text) =>
      val ws = text.split(" ").toSeq.filter(_.nonEmpty)
      (id, ws.length.toLong, ws.map(applyAll).sum.toLong)
    }
  }

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def collectMerges(merges: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    merges.orderBy("step").as[(Int, String, String, String, Long)].collect().toSeq
  }

  test("bpeMerges replays reference BPE on the classic corpus (greedy runs included)") {
    import spark.implicits._
    val got = collectMerges(Text.bpeMerges(bpeClassic.toDF("doc_id", "text"),
      "text", steps = 6))
    val expected = bpeReference(bpeClassic.map(_._2), 6)
    assert(expected.length == 6)
    assert(got == expected, s"got $got\nexpected $expected")
  }

  test("bpeMerges and kmeansCodebook hold no persisted state after returning") {
    import spark.implicits._
    // both builders return a driver-local result, so no block of theirs may
    // outlive the call — no Caches.sweep between the calls and the checks.
    // Clean start: an earlier test's SQL-cache entry for an identical plan
    // would answer the builder's persist and hide a leak.
    graft.api.Caches.sweepAll(spark)
    val before = persisted
    val got = collectMerges(Text.bpeMerges(bpeClassic.toDF("doc_id", "text"),
      "text", steps = 6))
    assert(persisted == before,
      s"bpeMerges left RDDs ${persisted -- before} persisted")
    assert(spark.sharedState.cacheManager.isEmpty,
      "bpeMerges left frames in the SQL cache")
    assert(got == bpeReference(bpeClassic.map(_._2), 6))
    val rnd = new scala.util.Random(17)
    val nv = Vectors.normalized((0 until 12).map(i =>
        (i.toLong, Array.fill(8)(rnd.nextGaussian()))).toDF("id", "vec"), "vec")
      .select(col("id"), col("vd"), col("nrm"))
    assert(Vectors.kmeansCodebook(nv, "id", k = 3, iters = 2).collect().length == 3)
    assert(persisted == before,
      s"kmeansCodebook left RDDs ${persisted -- before} persisted")
    assert(spark.sharedState.cacheManager.isEmpty,
      "kmeansCodebook left frames in the SQL cache")
  }

  test("bpeMerges on degenerate inputs: empty, all-null, one-char words, pairs run out") {
    import spark.implicits._
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val columns = Seq("step" -> IntegerType, "lhs" -> StringType,
      "rhs" -> StringType, "merged" -> StringType, "pair_count" -> LongType)
    graft.api.Caches.sweepAll(spark) // clean start, as above
    def run(docs: org.apache.spark.sql.DataFrame, steps: Int) = {
      val before = persisted
      val merges = Text.bpeMerges(docs, "text", steps)
      assert(merges.schema.map(f => f.name -> f.dataType) == columns)
      val got = collectMerges(merges)
      assert(persisted == before,
        s"bpeMerges left RDDs ${persisted -- before} persisted")
      assert(spark.sharedState.cacheManager.isEmpty,
        "bpeMerges left frames in the SQL cache")
      got
    }
    assert(run(Seq.empty[(Long, String)].toDF("doc_id", "text"), 6).isEmpty)
    assert(run(Seq((1L, null: String), (2L, null: String)).toDF("doc_id", "text"),
      6).isEmpty)
    assert(run(Seq((1L, "a b  c a"), (2L, "b z")).toDF("doc_id", "text"), 6).isEmpty)
    // more steps than the corpus has merges: the pairs run out first
    val all = run(bpeClassic.toDF("doc_id", "text"), 50)
    val expected = bpeReference(bpeClassic.map(_._2), 50)
    assert(expected.nonEmpty && expected.length < 50)
    assert(all == expected, s"got $all\nexpected $expected")
  }

  test("bpeApply matches a sequential reference application of the learned merges") {
    import spark.implicits._
    val texts = Seq(
      (1L, "low low low lower newest newest"),
      (2L, "newest newest widest aaaa aaaa"))
    val docs = texts.toDF("doc_id", "text")
    val merges = collectMerges(Text.bpeMerges(docs, "text", steps = 4))
      .map(m => (m._2, m._3))
    val got = Text.bpeApply(docs, "doc_id", "text", merges)
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq
    val expected = bpeApplyReference(texts, merges)
    assert(got == expected, s"got $got\nexpected $expected")
    // merges actually compress: fewer BPE tokens than characters
    assert(got.forall { case (_, _, bpe) => bpe > 0 })
  }

  test("bpeMerges and bpeApply keep a supplementary-character token whole") {
    import spark.implicits._
    // U+1F600 is one character but two UTF-16 units: under the merge
    // (e, x), "c e x" must become [c, ex], the c left standing
    val e = "\uD83D\uDE00"
    val texts = Seq((1L, s"c${e}x c${e}x ${e}x ${e}x ${e}x"),
      (2L, s"$e${e}x ab ab ${e}x"))
    val docs = texts.toDF("doc_id", "text")
    val got = collectMerges(Text.bpeMerges(docs, "text", steps = 5))
    val expected = bpeReference(texts.map(_._2), 5)
    assert(expected.map(m => (m._2, m._3, m._5)) ==
      Seq((e, "x", 7L), ("a", "b", 2L), ("c", e + "x", 2L), (e, e + "x", 1L)))
    assert(got == expected, s"got $got\nexpected $expected")
    val merges = got.map(m => (m._2, m._3))
    val applied = Text.bpeApply(docs, "doc_id", "text", merges)
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq
    assert(applied == Seq((1L, 5L, 5L), (2L, 4L, 4L)))
    assert(applied == bpeApplyReference(texts, merges))
  }

  test("bpeMerges breaks count ties in Spark's string order (UTF-8, not UTF-16)") {
    import spark.implicits._
    // U+FF61 sorts below U+1F600 in UTF-8 and above it in UTF-16, so each
    // corpus below ties two pairs whose order the two string orders flip
    val (h, e) = ("\uFF61", "\uD83D\uDE00")
    assert(e.compareTo(h) < 0)
    // the pair-count probe over the same word-frequency table, in Spark
    def sparkWinner(docs: org.apache.spark.sql.DataFrame) =
      docs.select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
        .select(col("freq"), split(col("w"), "").as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("freq"), explode(expr("transform(sequence(1, size(t) - 1), " +
          "i -> struct(t[i - 1] AS a, t[i] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("a"), col("b"))
        .as[(String, String, Long)].head()
    for ((text, winner) <- Seq(s"${e}a ${h}a ${e}a ${h}a" -> (h, "a"),
        s"a$e a$h" -> ("a", h))) {
      val docs = Seq((1L, text)).toDF("doc_id", "text")
      val got = collectMerges(Text.bpeMerges(docs, "text", steps = 1))
      val probe = sparkWinner(docs)
      assert((probe._1, probe._2) == winner, s"Spark's probe picked $probe")
      assert(got.map(m => (m._2, m._3, m._5)) == Seq(probe), s"got $got")
    }
  }

  test("winnowCandidates never misses a pair sharing a window+kGram-1 token run") {
    import spark.implicits._
    // docs 1/2 share an 8-token run (> the 7-token guarantee bound) at
    // DIFFERENT offsets; doc 3 shares nothing. With kGram=4/window=4 the
    // shared run holds one full gram window whose min hash both select.
    val run = "v w x y z p q r"
    val docs = Seq(
      (1L, s"a b c d e f $run g h i j"),
      (2L, s"m n o $run s t u a a b"),
      (3L, "one two three four five six seven eight nine ten eleven twelve")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowCandidates(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"guaranteed pair missed: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated doc 3 must not pair: $pairs")
  }

  test("randomProjection preserves squared norms within JL distortion and is linear") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (1L to 40L).map(i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val r = Vectors.randomProjection(vecs, "vec_id", "embedding", k = 16)
      .select(col("id"), (col("pnorm2") / col("norm2")).as("dist"))
      .as[(Long, Double)].collect().toSeq
    assert(r.size == 40)
    // per-vector distortion is chi²₁₆/16: far tails are vanishingly rare
    assert(r.forall { case (_, d) => d > 0.1 && d < 4.0 })
    val mean = r.map(_._2).sum / r.size
    assert(mean > 0.7 && mean < 1.3)
    // linearity: doubling the input doubles each coordinate EXACTLY (scaling
    // by a power of two shifts exponents; no mantissa rounding anywhere)
    val doubled = vecs.withColumn("embedding",
      expr("transform(embedding, x -> x * CAST(2.0 AS FLOAT))"))
    val p1 = Vectors.randomProjection(vecs, "vec_id", "embedding", k = 16)
      .select("id", "p0").as[(Long, Double)].collect().toMap
    val p2 = Vectors.randomProjection(doubled, "vec_id", "embedding", k = 16)
      .select("id", "p0").as[(Long, Double)].collect().toMap
    assert(p1.keys.forall(k => p2(k) == 2 * p1(k)))
  }

  test("mixtureWeights up-samples small domains at alpha<1 and is natural at alpha=1") {
    import spark.implicits._
    // domain a: 8 tokens, domain b: 1 token -> N=9
    val docs = Seq(
      (1L, "a", "t t t t t"), (2L, "a", "t t t"), (3L, "b", "t")
    ).toDF("doc_id", "lang", "text")
    val r = Text.mixtureWeights(docs, "lang", "text", alpha = 0.5)
      .orderBy("domain")
      .select("domain", "n_docs", "n_toks", "p_raw", "weight", "boost")
      .as[(String, Long, Long, Double, Double, Double)].collect().toSeq
    assert(r.map(t => (t._1, t._2, t._3)) == Seq(("a", 2L, 8L), ("b", 1L, 1L)))
    assert(r(0)._4 == 8.0 / 9 && r(1)._4 == 1.0 / 9)
    // w = sqrt(n)/(sqrt(8)+sqrt(1)); DECIMAL(28,6) quantization of each
    // pow term moves the ratio by < 1e-6
    val z = math.sqrt(8.0) + 1.0
    assert(math.abs(r(0)._5 - math.sqrt(8.0) / z) < 1e-5)
    assert(math.abs(r(1)._5 - 1.0 / z) < 1e-5)
    // weights normalize; the small domain up-samples, the big one down
    assert(math.abs(r.map(_._5).sum - 1.0) < 1e-5)
    assert(r(1)._6 > 1.0 && r(0)._6 < 1.0)
    assert(math.abs(r(0)._6 - r(0)._5 / r(0)._4) < 1e-5)
    // alpha = 1 reproduces natural proportions exactly (boost = 1)
    val nat = Text.mixtureWeights(docs, "lang", "text", alpha = 1.0)
      .orderBy("domain").select("p_raw", "weight", "boost")
      .as[(Double, Double, Double)].collect().toSeq
    nat.foreach { case (p, w, b) =>
      assert(math.abs(w - p) < 1e-6 && math.abs(b - 1.0) < 1e-6)
    }
  }

  test("mixtureResample replicates by floor(boost) plus a deterministic hash extra") {
    import spark.implicits._
    // alpha=0 -> uniform weights (0.5, 0.5); domain a holds 8 of 9 tokens
    // so boost_a = 0.5/(8/9) = 0.5625, boost_b = 0.5/(1/9) = 4.5.
    // hash fractions (first two md5 nibbles of the id string):
    //   md5("1")=c4.. -> 196/256 = 0.7656 ; md5("2")=c8.. -> 200/256
    //   md5("3")=ec.. -> 236/256 = 0.9219
    // a-docs: floor(.5625)=0, extra iff hfrac<0.5625 -> neither copies
    // b-doc:  floor(4.5)=4,  extra iff hfrac<0.5     -> stays at 4
    val docs = Seq(
      (1L, "a", "t t t t t"), (2L, "a", "t t t"), (3L, "b", "t")
    ).toDF("doc_id", "lang", "text")
    val r = Text.mixtureResample(docs, "lang", "doc_id", "text", alpha = 0.0)
      .orderBy("domain")
      .select("domain", "n_docs", "n_copies", "toks_in", "toks_out",
        "weight", "realized_frac")
      .as[(String, Long, Long, Long, Long, Double, Double)].collect().toSeq
    assert(r.map(t => (t._1, t._2, t._3, t._4, t._5)) ==
      Seq(("a", 2L, 0L, 8L, 0L), ("b", 1L, 4L, 1L, 4L)))
    assert(r.map(_._6) == Seq(0.5, 0.5))
    assert(r.map(_._7) == Seq(0.0, 1.0))
    // alpha=1 -> boost = 1 everywhere: resampling is the identity
    // (these ids' hash fractions are all > 1 ulp, so a boundary-side
    // floor flip cannot change the copy count)
    val id = Text.mixtureResample(docs, "lang", "doc_id", "text", alpha = 1.0)
      .select("n_docs", "n_copies", "toks_in", "toks_out")
      .as[(Long, Long, Long, Long)].collect().toSeq
    id.foreach { case (nd, nc, ti, to) => assert(nc == nd && to == ti) }
  }

  test("chunkStride covers every token with overlap and no redundant tail") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // n=10: chunks at 1,4,7
      (2L, "u1 u2 u3"),                               // n<=W: single chunk
      (3L, "v1 v2 v3 v4 v5"),                         // n=5: 1..4 + short 4..5
      (4L, "")                                        // empty split -> 1 token ""
    ).toDF("doc_id", "text")
    val r = Text.chunkStride(docs, "doc_id", "text", window = 4, stride = 3)
      .orderBy("id", "chunk_idx")
      .select("id", "chunk_idx", "start", "len", "first_tok", "last_tok")
      .as[(Long, Long, Long, Long, String, String)].collect().toSeq
    val d1 = r.filter(_._1 == 1L)
    assert(d1.map(c => (c._2, c._3, c._4)) ==
      Seq((0L, 1L, 4L), (1L, 4L, 4L), (2L, 7L, 4L)))
    assert(d1.map(_._5) == Seq("t1", "t4", "t7"))
    assert(d1.map(_._6) == Seq("t4", "t7", "t10"))
    assert(r.filter(_._1 == 2L) == Seq((2L, 0L, 1L, 3L, "u1", "u3")))
    assert(r.filter(_._1 == 3L).map(c => (c._3, c._4, c._6)) ==
      Seq((1L, 4L, "v4"), (4L, 2L, "v5")))
    // Spark's split("") on empty text yields one empty token -> one chunk
    assert(r.filter(_._1 == 4L).map(c => (c._3, c._4)) == Seq((1L, 1L)))
  }

  test("charEntropy is 0 for single-char runs and ln(k) for uniform alphabets") {
    import spark.implicits._
    val docs = Seq((1L, "aaaaaaaa"), (2L, "abcdefgh"), (3L, "abab"))
      .toDF("doc_id", "text")
    val r = Text.charEntropy(docs, "doc_id", "text")
      .orderBy("id").select("id", "n_ch", "n_uniq_ch", "entropy", "kept")
      .as[(Long, Long, Long, Double, Boolean)].collect().toSeq
    assert(r(0) == ((1L, 8L, 1L, 0.0, false)))     // garbage run: zero entropy
    assert(r(1)._4 == math.rint(math.log(8) * 1e4) / 1e4 && r(1)._5) // ln(8)=2.0794 >= 2
    assert(r(2) == ((3L, 4L, 2L, math.rint(math.log(2) * 1e4) / 1e4, false)))
  }

  test("charEntropy counts multi-byte text per CODEPOINT (measured engine parity)") {
    import spark.implicits._
    // pins the r7 measurement that retired the r6 ASCII contract: Spark's
    // split(text, "") iterates codepoints (a surrogate-pair emoji is ONE
    // symbol, not two UTF-16 units), exactly like DuckDB's
    // string_split(text, '') — multilingual corpora replay cross-engine
    val texts = Map(
      1L -> "ααββ😀😀", // 2×α 2×β 2×😀 (emoji = surrogate pair in UTF-16)
      2L -> "日本語テキスト",
      3L -> "aabb")
    val r = Text.charEntropy(texts.toSeq.toDF("doc_id", "text"),
        "doc_id", "text")
      .orderBy("id").select("id", "n_ch", "n_uniq_ch", "entropy")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // driver-side reference entropy over CODEPOINTS
    def ref(s: String): (Long, Long, Double) = {
      val counts = s.codePoints().toArray.toSeq.groupBy(identity)
        .values.map(_.size).toSeq
      val n = counts.sum
      (n.toLong, counts.size.toLong,
        math.log(n) - counts.map(c => c * math.log(c)).sum / n)
    }
    assert(r.map(_._1) == Seq(1L, 2L, 3L))
    r.foreach { case (id, n, u, e) =>
      val (rn, ru, re) = ref(texts(id))
      assert(n == rn && u == ru, s"doc $id: ($n, $u) vs ($rn, $ru)")
      assert(math.abs(e - re) < 1e-3, s"doc $id: $e vs $re")
    }
    // the load-bearing shape: 6 codepoints over a 3-symbol alphabet, NOT
    // 8 UTF-16 units over 4
    assert(r(0)._2 == 6L && r(0)._3 == 3L)
  }

  test("contamination scores planted overlap on literal corpora") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine")).toDF("doc_id", "text")
    val eval = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // full copy
      (11L, "totally fresh words that overlap with nothing at all here"),
      (12L, "ab")) // shorter than n tokens -> no row
    .toDF("doc_id", "text")
    val r = Text.contamination(eval, corpus, "doc_id", "text", n = 5)
      .select("id", "contamination").as[(Long, Double)].collect().toMap
    assert(r(10L) == 1.0, s"verbatim copy must be fully contaminated: $r")
    assert(r(11L) == 0.0, s"fresh doc must be clean: $r")
    assert(!r.contains(12L), "sub-n-token docs produce no row")
  }

  test("contaminationBloom equals exact contamination even at fpp=0.5") {
    import spark.implicits._
    // fpp=0.5 floods the prefilter with false positives on purpose: the
    // exact semi-join behind it must still produce the identical score set.
    val docs = (1L to 40L).map { i =>
      (i, (0 until 8).map(j => s"w${(i * 3 + j * 7) % 29}").mkString(" "))
    }.toDF("doc_id", "text")
    val eval = docs.filter(col("doc_id") % 5 === 0)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val exact = Text.contamination(eval, corpus, "doc_id", "text", n = 5)
      .select("id", "n_grams", "n_contaminated").as[(Long, Long, Long)]
      .collect().toSet
    val bloom = Text.contaminationBloom(eval, corpus, "doc_id", "text", n = 5,
        fpp = 0.5)
      .select("id", "n_grams", "n_contaminated").as[(Long, Long, Long)]
      .collect().toSet
    graft.api.Caches.sweep(spark)
    assert(exact.nonEmpty, "planted corpus must produce contamination rows")
    assert(bloom == exact,
      s"bloom path must be exact: only=${bloom.diff(exact)} missing=${exact.diff(bloom)}")
  }

  test("Tables.upsert merges updates over base and is idempotent") {
    import spark.implicits._
    import graft.api.Tables
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "status", "v")
    val updates = Seq((2L, "B", 99.0), (4L, "d", 40.0)).toDF("k", "status", "v")
    val once = Tables.upsert(base, updates, Seq("k"))
    val got = once.orderBy("k").as[(Long, String, Double)].collect().toSeq
    assert(got == Seq((1L, "a", 10.0), (2L, "B", 99.0), (3L, "c", 30.0),
      (4L, "d", 40.0)))
    val twice = Tables.upsert(once, updates, Seq("k"))
      .orderBy("k").as[(Long, String, Double)].collect().toSeq
    assert(twice == got, "upsert must be idempotent for a fixed change batch")
  }

  // --------------------------------------------------------------- Vectors

  test("signLshPairs recovers planted near-duplicate vectors at cos >= 0.95") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val origs = (0 until 30).map(i => (i.toLong, Array.fill(64)(rnd.nextGaussian())))
    // plant 3 near-duplicates: tiny deterministic perturbations of 0, 1, 2
    val planted = (0 until 3).map { i =>
      (100L + i, origs(i)._2.zipWithIndex.map { case (x, p) => x * (1.0 + 0.02 * ((p % 5) - 2)) })
    }
    val df = (origs ++ planted).toDF("id", "vec")
    val pairs = Vectors.signLshPairs(df, "id", "vec", threshold = 0.95)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 100L), (1L, 101L), (2L, 102L)),
      s"expected exactly the 3 planted pairs, got $pairs")
  }

  test("kmeansCodebook trains pure cells on planted clusters and is bit-deterministic") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // three well-separated directions: all-positive, antipodal, alternating
    val centers = Seq(Array.fill(16)(5.0), Array.fill(16)(-5.0),
      Array.tabulate(16)(i => if (i % 2 == 0) 5.0 else -5.0))
    val data = centers.zipWithIndex.flatMap { case (c, ci) =>
      (0 until 20).map(i =>
        (ci * 100L + i, c.map(x => x + rnd.nextGaussian() * 0.05)))
    }
    val nv = Vectors.normalized(data.toDF("id", "vec"), "vec")
      .select(col("id"), col("vd"), col("nrm"))
    val cb = Vectors.kmeansCodebook(nv, "id", k = 4, iters = 3)
    assert(cb.count() == 4)
    // purity: no trained cell mixes points from two planted clusters
    // (over-segmentation k=4 > 3 clusters is fine; impurity is not)
    val assigned = Vectors.assignCells(nv, cb)
      .select(col("id"), col("cell")).as[(Long, Int)].collect()
    val clustersPerCell = assigned.groupBy(_._2)
      .map { case (_, rows) => rows.map(_._1 / 100).distinct.length }
    assert(clustersPerCell.forall(_ == 1),
      s"a trained cell mixes planted clusters: ${assigned.mkString(",")}")
    // IVF recall through the trained codebook: every probed neighbor of a
    // cluster-member query comes from the query's own planted cluster
    val idx = Vectors.assignCells(nv, cb)
      .select(col("id"), col("cell"), col("vd"), col("nrm"))
    val q = nv.filter(col("id").isin(0L, 100L, 200L))
    val r = Vectors.ivfProbeWith(idx, cb, q, "id", "cell", k = 3, probes = 2)
      .select(col("q_id"), col("n_id")).as[(Long, Long)].collect()
    assert(r.length == 9)
    assert(r.forall { case (qId, nId) => qId / 100 == nId / 100 },
      s"probe escaped the query's cluster: ${r.mkString(",")}")
    // fixed seeds + DECIMAL-exact means → a retrain is bit-identical
    val cb2 = Vectors.kmeansCodebook(nv, "id", k = 4, iters = 3)
    assert(cb.collect().map(_.toString).sorted
      .sameElements(cb2.collect().map(_.toString).sorted))
    // large-k escape hatch: literalMaxK = 0 forces EVERY training iteration
    // through the assignCellsJoin broadcast path — the branch production
    // reaches only at k > 32768, so without this the in-loop integration
    // (toDF round-trip, column wiring, centroid update from join output)
    // would ship untested. DECIMAL-exact means + the tie-equivalence of the
    // two assignment paths ⇒ the trained codebook must be bit-identical.
    val cbJoin = Vectors.kmeansCodebook(nv, "id", k = 4, iters = 3,
      literalMaxK = 0)
    assert(cb.collect().map(_.toString).sorted
      .sameElements(cbJoin.collect().map(_.toString).sorted),
      "join-path training must match literal-path training bit-for-bit")
  }

  test("probeIndex over a writeIndex layout equals the direct in-memory ivf probe") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val centers = Seq(Array.fill(16)(5.0), Array.fill(16)(-5.0),
      Array.tabulate(16)(i => if (i % 2 == 0) 5.0 else -5.0))
    val data = centers.zipWithIndex.flatMap { case (c, ci) =>
      (0 until 20).map(i =>
        (ci * 100L + i, c.map(x => x + rnd.nextGaussian() * 0.05)))
    }
    val nv = Vectors.normalized(data.toDF("id", "vec"), "vec")
      .select(col("id"), col("vd"), col("nrm"))
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx_spec_")
      .toFile.getAbsolutePath
    try {
      Vectors.writeIndex(nv, "id", dir, k = 4, iters = 2)
      // the stored artifacts round-trip: codebook rows == trained codebook,
      // index carries every corpus row exactly once with its trained cell
      val cb = Vectors.kmeansCodebook(nv, "id", k = 4, iters = 2)
      val storedCb = spark.read.parquet(s"$dir/codebook")
      assert(storedCb.collect().map(_.toString).sorted
        .sameElements(cb.collect().map(_.toString).sorted),
        "stored codebook must equal the trained codebook bit-for-bit")
      val direct = Vectors.ivfProbeWith(
        Vectors.assignCells(nv, cb).select(col("id"), col("cell"), col("vd"), col("nrm")),
        cb, nv.filter(col("id").isin(0L, 100L, 200L)), "id", "cell",
        k = 3, probes = 2)
        .select("q_id", "n_id", "rn").as[(Long, Long, Int)].collect().sorted
      val persisted = Vectors.probeIndex(spark, dir,
        nv.filter(col("id").isin(0L, 100L, 200L)), "id", k = 3, probes = 2)
        .select("q_id", "n_id", "rn").as[(Long, Long, Int)].collect().sorted
      assert(persisted.sameElements(direct),
        s"read-back probe must equal the direct probe:\n" +
          s"direct=${direct.mkString(",")}\npersisted=${persisted.mkString(",")}")
      // overwrite contract: a retrain replaces, never merges
      Vectors.writeIndex(nv, "id", dir, k = 4, iters = 2)
      assert(spark.read.parquet(s"$dir/index").count() == nv.count(),
        "rewritten index must hold each corpus row exactly once")
    } finally {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      rm(new java.io.File(dir))
    }
  }

  test("appendToIndex under the frozen codebook equals a from-scratch union assignment") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    val centers = Seq(Array.fill(16)(5.0), Array.fill(16)(-5.0),
      Array.tabulate(16)(i => if (i % 2 == 0) 5.0 else -5.0))
    val data = centers.zipWithIndex.flatMap { case (c, ci) =>
      (0 until 20).map(i =>
        (ci * 100L + i, c.map(x => x + rnd.nextGaussian() * 0.05)))
    }
    val nv = Vectors.normalized(data.toDF("id", "vec"), "vec")
      .select(col("id"), col("vd"), col("nrm"))
    val base = nv.filter(col("id") % 4 =!= 0)
    val delta = nv.filter(col("id") % 4 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_annappend_spec_")
      .toFile.getAbsolutePath
    try {
      Vectors.writeIndex(base, "id", dir, k = 4, iters = 2)
      Vectors.appendToIndex(spark, dir, delta, "id")
      // every row lands exactly once; appended rows carry the cell the
      // FROZEN base codebook assigns (no retrain happened)
      val stored = spark.read.parquet(s"$dir/index")
      assert(stored.count() == nv.count())
      val cbBase = Vectors.kmeansCodebook(base, "id", k = 4, iters = 2)
      val fromScratch = Vectors.assignCells(nv, cbBase)
        .select(col("id"), col("cell")).as[(Long, Int)].collect().toMap
      val storedCells = stored.select(col("id"), col("cell"))
        .as[(Long, Int)].collect().toMap
      assert(storedCells == fromScratch,
        "appended layout's cells diverge from the from-scratch assignment")
      // and the probe over the merged layout equals the direct probe over
      // the union index under the same frozen codebook
      val qs = nv.filter(col("id").isin(0L, 100L, 200L))
      val direct = Vectors.ivfProbeWith(
        Vectors.assignCells(nv, cbBase).select(col("id"), col("cell"), col("vd"), col("nrm")),
        cbBase, qs, "id", "cell", k = 3, probes = 2)
        .select("q_id", "n_id", "rn").as[(Long, Long, Int)].collect().sorted
      val merged = Vectors.probeIndex(spark, dir, qs, "id", k = 3, probes = 2)
        .select("q_id", "n_id", "rn").as[(Long, Long, Int)].collect().sorted
      assert(merged.sameElements(direct),
        s"merged-layout probe diverged:\ndirect=${direct.mkString(",")}\nmerged=${merged.mkString(",")}")
    } finally {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      rm(new java.io.File(dir))
    }
  }

  test("compactIndex collapses append-accumulated files; probe results unchanged") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val centers = Seq(Array.fill(16)(5.0), Array.fill(16)(-5.0),
      Array.tabulate(16)(i => if (i % 2 == 0) 5.0 else -5.0))
    val data = centers.zipWithIndex.flatMap { case (c, ci) =>
      (0 until 30).map(i =>
        (ci * 100L + i, c.map(x => x + rnd.nextGaussian() * 0.05)))
    }
    val nv = Vectors.normalized(data.toDF("id", "vec"), "vec")
      .select(col("id"), col("vd"), col("nrm"))
    val base = nv.filter(col("id") % 3 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_anncompact_spec_")
      .toFile.getAbsolutePath
    try {
      Vectors.writeIndex(base, "id", dir, k = 3, iters = 2)
      // 2 delta appends: each lands new files beside the old per cell
      Vectors.appendToIndex(spark, dir, nv.filter(col("id") % 3 === 1), "id")
      Vectors.appendToIndex(spark, dir, nv.filter(col("id") % 3 === 2), "id")
      val qs = nv.filter(col("id").isin(0L, 100L, 200L))
      val before = Vectors.probeIndex(spark, dir, qs, "id", k = 3, probes = 2)
        .select("q_id", "n_id", "rn").as[(Long, Long, Int)].collect().sorted
      val filesBefore = Vectors.indexFilesPerCell(spark, dir)
      assert(filesBefore.values.max >= 3,
        s"appends should accumulate files per cell: $filesBefore")
      // the scheduler-facing policy probe flips across the compaction
      assert(Vectors.needsCompaction(spark, dir, maxFilesPerCell = 2))
      Vectors.compactIndex(spark, dir, "id")
      assert(!Vectors.needsCompaction(spark, dir, maxFilesPerCell = 2))
      // crash-safe swap leaves no intermediate directories behind (r12):
      // a surviving index_old/tmp would shadow the next compaction's swap
      assert(!new java.io.File(s"$dir/index_old").exists())
      assert(!new java.io.File(s"$dir/index_compact_tmp").exists())
      // physical rewrite only: every cell back to one file (rows << target),
      // row multiset intact, probe results identical, codebook untouched
      val filesAfter = Vectors.indexFilesPerCell(spark, dir)
      assert(filesAfter.keySet == filesBefore.keySet,
        s"compaction must preserve the cell set: $filesBefore vs $filesAfter")
      assert(filesAfter.values.forall(_ == 1),
        s"compacted cells should hold one file each: $filesAfter")
      assert(spark.read.parquet(s"$dir/index").count() == nv.count())
      val after = Vectors.probeIndex(spark, dir, qs, "id", k = 3, probes = 2)
        .select("q_id", "n_id", "rn").as[(Long, Long, Int)].collect().sorted
      assert(after.sameElements(before),
        s"probe diverged across compaction:\nbefore=${before.mkString(",")}\nafter=${after.mkString(",")}")
    } finally {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      rm(new java.io.File(dir))
    }
  }

  test("assignCellsJoin (broadcast-codebook path) equals the literal-codebook assignCells") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // includes near-boundary vectors (small noise around 3 centers) so the
    // two argmax formulations must agree on close calls, not just obvious ones
    val centers = Seq(Array.fill(16)(3.0), Array.fill(16)(-3.0),
      Array.tabulate(16)(i => if (i % 2 == 0) 3.0 else -3.0))
    val data = centers.zipWithIndex.flatMap { case (c, ci) =>
      (0 until 25).map(i => (ci * 100L + i, c.map(x => x + rnd.nextGaussian())))
    }
    val nv = Vectors.normalized(data.toDF("id", "vec"), "vec")
      .select(col("id"), col("vd"), col("nrm"))
    val cb = Vectors.kmeansCodebook(nv, "id", k = 5, iters = 2)
    val lit = Vectors.assignCells(nv, cb)
      .select(col("id"), col("cell")).as[(Long, Int)].collect().toMap
    val join = Vectors.assignCellsJoin(nv, cb, "id")
      .select(col("id"), col("cell")).as[(Long, Int)].collect().toMap
    assert(join == lit,
      s"broadcast-join assignment diverged from literal-codebook assignment: " +
        s"${(join.toSet -- lit.toSet).take(5)} vs ${(lit.toSet -- join.toSet).take(5)}")
  }

  test("ivfProbeWith two-stage top-k equals single-window ranking, plan keeps the partial rank") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // ONE cell, 60 vectors: the probed cell is the whole index, so exact
    // brute-force top-k is the reference; with salt=8 blocks of ~7 rows and
    // k=5, the per-(query, salt) pre-rank genuinely filters candidates
    val data = (0 until 60).map(i => (i.toLong, 0, Array.fill(16)(rnd.nextGaussian())))
    val nv = Vectors.normalized(data.toDF("id", "cell", "vec"), "vec")
    val idx = nv.select(col("id"), col("cell"), col("vd"), col("nrm"))
    val q = nv.filter(col("id").isin(3L, 17L, 42L))
      .select(col("id"), col("vd"), col("nrm"))
    val r = Vectors.ivfProbe(idx, q, "id", "cell", k = 5, probes = 1)
    val got = r.select("q_id", "rn", "n_id").as[(Long, Int, Long)].collect().toSet
    val ref = Vectors.cosineTopK(idx.drop("cell"), q, "id", k = 5)
      .select("q_id", "rn", "n_id").as[(Long, Int, Long)].collect().toSet
    assert(got == ref, s"two-stage top-k diverged:\n got=$got\n ref=$ref")
    // the pre-rank stage must survive optimization as a second Window
    val wins = r.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.size >= 2,
      s"expected partial + final rank windows:\n${r.queryExecution.optimizedPlan}")
  }

  test("ivfProbe finds neighbors from the query's own cluster") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // two well-separated clusters around +10 and -10 on every axis
    def cluster(center: Double, cell: Int, idBase: Long) =
      (0 until 20).map(i =>
        (idBase + i, cell, Array.fill(16)(center + rnd.nextGaussian() * 0.1)))
    val data = cluster(10.0, 0, 0L) ++ cluster(-10.0, 1, 1000L)
    val nv = Vectors.normalized(data.toDF("id", "cell", "vec"), "vec")
    val idx = nv.select(col("id"), col("cell"), col("vd"), col("nrm"))
    val q = nv.filter(col("id").isin(0L, 1000L)).select(col("id"), col("vd"), col("nrm"))
    val r = Vectors.ivfProbe(idx, q, "id", "cell", k = 3, probes = 1)
      .select("q_id", "n_id", "n_cell").as[(Long, Long, Int)].collect()
    assert(r.length == 6)
    assert(r.filter(_._1 == 0L).forall(_._3 == 0))
    assert(r.filter(_._1 == 1000L).forall(_._3 == 1))
  }

  // ----------------------------------------------------------------- Fuzzy

  test("levenshteinJoin recovers planted typos and documents the in-prefix miss") {
    import spark.implicits._
    import graft.api.Fuzzy
    val clean = Seq((1L, "kitten mitten"), (2L, "flour power"),
      (3L, "grape drape")).toDF("id", "name")
    val dirty = Seq(
      (11L, "kittzn mitten"),  // typo at pos 5: recovered (block "kitt" intact)
      (12L, "flour powzr"),    // typo at pos 10: recovered
      (13L, "zrape drape"),    // typo at pos 1: MISSED (block "grap" -> "zrap")
      (14L, "totally different")).toDF("id", "name")
    val got = Fuzzy.levenshteinJoin(dirty, "id", "name", clean, "id", "name",
        maxDist = 1, blockLen = 4)
      .select("a_id", "b_id", "dist").as[(Long, Long, Int)].collect().toSet
    assert(got == Set((11L, 1L, 1), (12L, 2L, 1)),
      s"expected the two out-of-prefix typo pairs and ONLY them " +
        s"(in-prefix typo 13 is the documented blocking miss): $got")
  }

  test("levenshteinJoin length band never drops a within-distance pair") {
    import spark.implicits._
    import graft.api.Fuzzy
    // insert + delete edits push length to the band edge in both directions
    val clean = Seq((1L, "abcdef")).toDF("id", "name")
    val dirty = Seq((11L, "abcdefg"), (12L, "abcde"), (13L, "abcdefgh"))
      .toDF("id", "name")
    val got = Fuzzy.levenshteinJoin(dirty, "id", "name", clean, "id", "name",
        maxDist = 1, blockLen = 4)
      .select("a_id", "dist").as[(Long, Int)].collect().toSet
    // 13 is two inserts away: band admits nothing beyond maxDist
    assert(got == Set((11L, 1), (12L, 1)), s"got $got")
  }

  test("jaccardJoin blocks on shared tokens under the df cap and verifies exactly") {
    import spark.implicits._
    import graft.api.Fuzzy
    val a = Seq((1L, "red wine glass"), (2L, "green tea cup"),
      (3L, "common common2")).toDF("id", "txt")
    val b = Seq((10L, "red wine bottle"), (20L, "black tea cup"),
      (30L, "common common3")).toDF("id", "txt")
    val got = Fuzzy.jaccardJoin(a, "id", "txt", b, "id", "txt",
        minSim = 0.45, maxDf = 10)
      .select("a_id", "b_id", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    // {red,wine,glass}∩{red,wine,bottle}=2, union 4 → 0.5;
    // {green,tea,cup}∩{black,tea,cup}=2, union 4 → 0.5;
    // {common,common2}∩{common,common3}=1, union 3 → 0.33 < minSim
    assert(got == Set((1L, 10L, 0.5), (2L, 20L, 0.5)), s"got $got")
    // df cap: with maxDf=1 every shared token exceeds the cap (df=2), so
    // blocking surfaces nothing — the documented recall trade, not an error
    val capped = Fuzzy.jaccardJoin(a, "id", "txt", b, "id", "txt",
        minSim = 0.45, maxDf = 1).count()
    assert(capped == 0L)
  }

  // ----------------------------------------------------------------- Graph

  /** Symmetrize an undirected pair list into (src, dst) both ways. */
  private def sym(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
  }

  test("pagerankUntil converges on a hub-and-spoke and conserves rank mass") {
    import graft.api.Graph
    // a star is bipartite: the rank oscillation decays only by the damping
    // factor per round (0.85^k), so eps must sit where ~45 rounds reach it
    val star = sym((1L to 10L).map(i => (0L, i)))
    val (ranks, rounds) = Graph.pagerankUntil(star, eps = 1e-3, maxIters = 60)
    val m = ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rounds < 60, s"hub-and-spoke must converge before maxIters, ran $rounds")
    // symmetric graph: total rank mass stays n (decimal quantization drift
    // is bounded by ~0.5e-6 per edge-term per round)
    assert(math.abs(m.values.sum - 11.0) < 1e-3, s"mass ${m.values.sum}")
    assert((1L to 10L).forall(i => m(0L) > m(i)), s"hub must outrank spokes: $m")
    assert((2L to 10L).forall(i => m(i) == m(1L)), s"spokes must tie exactly: $m")
    graft.api.Caches.sweep(spark)
  }

  test("pagerankUntil with uniform weights matches pagerank() bit-for-bit") {
    import spark.implicits._
    import graft.api.Graph
    // an irregular little graph: path + chord + pendant
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L), (4L, 5L))
    val g = sym(pairs)
    // the same graph weighted: non-integer weights, so the quotient
    // rank·w/wsum rounds and quantizes at every term
    val wts = Seq(3.0, 0.5, 1.25, 7.0, 2.0, 0.1)
    val wp = pairs.zip(wts).map { case ((a, b), w) => (a, b, w) }
    val gw = (wp ++ wp.map(p => (p._2, p._1, p._3))).toDF("src", "dst", "w")
    val byWeights = Seq(g -> "uniform", gw -> "weighted").map { case (graph, what) =>
      val bounded = Graph.pagerank(graph, iters = 5).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // eps = 0 never triggers (delta >= 0 always), so exactly maxIters
      // run — same rounds, same decimal-quantized arithmetic, same bits
      val (ranks, rounds) = Graph.pagerankUntil(graph, eps = 0.0, maxIters = 5)
      val until = ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(rounds == 5)
      assert(until.keySet == bounded.keySet && until.forall { case (n, r) =>
          java.lang.Double.doubleToRawLongBits(r) ==
            java.lang.Double.doubleToRawLongBits(bounded(n)) },
        s"$what pagerankUntil must equal the unrolled builder:\n$until\n$bounded")
      graft.api.Caches.sweep(spark)
      bounded
    }
    // the weighted graph is not a disguised uniform one: pagerank reads w
    assert(byWeights(0) != byWeights(1), s"weights ignored: $byWeights")
  }

  test("pagerankUntil rank mass follows edge weights") {
    import spark.implicits._
    import graft.api.Graph
    // triangle with one heavy edge (1-2 carries 10x the weight): under
    // weighted propagation nodes 1 and 2 feed each other most of their
    // rank, so both must outrank node 3; unweighted they tie exactly
    val pairs = Seq((1L, 2L, 10.0), (2L, 3L, 1.0), (1L, 3L, 1.0))
    val wedges = (pairs ++ pairs.map(p => (p._2, p._1, p._3)))
      .toDF("src", "dst", "w")
    val (wr, _) = Graph.pagerankUntil(wedges, eps = 1e-9, maxIters = 50)
    val wm = wr.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(wm(1L) > wm(3L) && wm(2L) > wm(3L), s"weighted ranks: $wm")
    assert(wm(1L) == wm(2L), s"1 and 2 are symmetric, must tie: $wm")
    val (ur, _) = Graph.pagerankUntil(wedges.drop("w"), eps = 1e-9, maxIters = 50)
    val um = ur.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(um.values.toSet.size == 1, s"unweighted triangle ties everywhere: $um")
    graft.api.Caches.sweep(spark)
  }

  test("labelPropagation separates two planted cliques joined by a bridge") {
    import graft.api.Graph
    def clique(ids: Seq[Long]) =
      for { a <- ids; b <- ids if a < b } yield (a, b)
    val edges = sym(clique(1L to 5L) ++ clique(11L to 15L) :+ (5L, 11L))
    val got = Graph.labelPropagation(edges, iters = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // deterministic sync LPA with min-tie-break settles each clique on its
    // minimum id; the bridge does not merge them
    assert((1L to 5L).forall(got(_) == 1L), s"clique A: $got")
    assert((11L to 15L).forall(got(_) == 11L), s"clique B: $got")
    graft.api.Caches.sweep(spark)
  }

  test("triangles counts K4 and refuses ids beyond the orientation-key range") {
    import spark.implicits._
    import graft.api.Graph
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("u", "v")
    val r = Graph.triangles(k4).collect()(0)
    assert(r.getAs[Long]("n_nodes") == 4 && r.getAs[Long]("n_edges") == 6
      && r.getAs[Long]("n_triangles") == 4)
    val bad = Seq((Graph.KMUL + 1L, 7L)).toDF("u", "v")
    val e = intercept[IllegalArgumentException](Graph.triangles(bad))
    assert(e.getMessage.contains("orientation key"), e.getMessage)
    graft.api.Caches.sweep(spark)
  }

  test("pqCodes one-pass encoding equals the m-joined assignCells form bit-for-bit") {
    import graft.api.Vectors
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val nv = Vectors.normalized(graft.ops.T.embeddings(spark, sf), "embedding")
      .select(col("vec_id"), col("vd"), col("nrm"))
    val onePass = Vectors.pqCodes(nv, "vec_id", m = 4, k = 8, iters = 2)
    // the gated key's shape: one kmeans+assign per subspace, rejoined on id
    val joined = (0 until 4).map { i =>
      val subF = nv.select(col("vec_id"), slice(col("vd"), i * 16 + 1, 16).as("vd"))
        .withColumn("nrm", expr("sqrt(vec_dot(vd, vd))"))
      val cb = Vectors.kmeansCodebook(subF, "vec_id", 8, 2, s"pq$i")
      Vectors.assignCells(subF, cb).select(col("vec_id"), col("cell").as(s"code$i"))
    }.reduce((a, b) => a.join(b, "vec_id"))
    val cols = onePass.columns.sorted.map(col)
    val d1 = onePass.select(cols: _*).exceptAll(joined.select(cols: _*)).count()
    val d2 = joined.select(cols: _*).exceptAll(onePass.select(cols: _*)).count()
    assert(d1 == 0 && d2 == 0, s"one-pass vs joined codes diverged ($d1/$d2)")
    // the one-pass ENCODE is a pure projection: zero exchanges in its plan
    val exchanges = onePass.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty, s"pqCodes encode plan shuffles: $exchanges")
    graft.api.Caches.sweep(spark)
  }

  test("labelPropagationWeighted follows the heavier edge where counts tie") {
    import spark.implicits._
    import graft.api.Graph
    // path 1—2—3: node 2's neighbor labels tie 1-vs-1 unweighted (→ min
    // label 1) but the w=5 edge to 3 must win the weighted vote
    val ew = Seq((1L, 2L, 1L), (2L, 1L, 1L), (2L, 3L, 5L), (3L, 2L, 5L))
      .toDF("src", "dst", "w")
    val w1 = Graph.labelPropagationWeighted(ew, iters = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w1(2L) == 3L, s"weighted vote lost to the light edge: $w1")
    val u1 = Graph.labelPropagation(ew.select("src", "dst"), iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(u1(2L) == 1L, s"unweighted tie must break to min label: $u1")
    graft.api.Caches.sweep(spark)
  }

  test("labelPropagationWeighted with unit weights equals labelPropagation bit-for-bit") {
    import spark.implicits._
    import graft.api.Graph
    def clique(ids: Seq[Long]) =
      for { a <- ids; b <- ids if a < b } yield (a, b)
    val edges = sym(clique(1L to 5L) ++ clique(11L to 15L) :+ (5L, 11L))
    val unw = Graph.labelPropagation(edges, iters = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wtd = Graph.labelPropagationWeighted(
        edges.withColumn("w", lit(1L)), iters = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unw == wtd)
    graft.api.Caches.sweep(spark)
  }

  test("modularity is 0.5 for two disjoint cliques and 0 for one community") {
    import spark.implicits._
    import graft.api.Graph
    def clique(ids: Seq[Long]) =
      for { a <- ids; b <- ids if a < b } yield (a, b)
    // two disjoint K3s, perfectly labeled: m=6, L_c=3, d_c=6, E=12 →
    // Q = 2·(3/6 − (6/12)²) = 0.5 EXACTLY (all-integer arithmetic)
    val twoK3 = sym(clique(1L to 3L) ++ clique(11L to 13L))
    val lab2 = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (11L, 11L), (12L, 11L), (13L, 11L)).toDF("node", "label")
    val r2 = Graph.modularity(twoK3, lab2).collect()(0)
    assert(r2.getAs[Long]("n_communities") == 2L)
    assert(r2.getAs[Long]("n_edges_directed") == 12L)
    assert(r2.getAs[Double]("modularity") == 0.5)
    // everything in ONE community: L/m = 1 and (d/2m)² = 1 → Q = 0 exactly
    val lab1 = (Seq(1L, 2L, 3L, 11L, 12L, 13L)).map(n => (n, 1L))
      .toDF("node", "label")
    val r1 = Graph.modularity(twoK3, lab1).collect()(0)
    assert(r1.getAs[Long]("n_communities") == 1L)
    assert(r1.getAs[Double]("modularity") == 0.0)
    graft.api.Caches.sweep(spark)
  }

  test("modularity of labelPropagation communities on bridged cliques is high") {
    import graft.api.Graph
    def clique(ids: Seq[Long]) =
      for { a <- ids; b <- ids if a < b } yield (a, b)
    val edges = sym(clique(1L to 5L) ++ clique(11L to 15L) :+ (5L, 11L))
    val labels = Graph.labelPropagation(edges, iters = 4)
    val q = Graph.modularity(edges, labels).collect()(0).getAs[Double]("modularity")
    // two 5-cliques joined by one bridge, correctly split: Q ≈ 0.452
    assert(q > 0.4, s"expected strong community structure, got Q=$q")
    graft.api.Caches.sweep(spark)
  }

  // ------------------------------------------------------------------ Skew

  test("Skew.saltedJoin equals the plain join on a planted 80/20 hot key") {
    import spark.implicits._
    import graft.api.Skew
    // 5000 rows, 80% on key 1, the rest spread over keys 2..21
    val left = spark.range(5000)
      .select(when(col("id") % 5 < 4, lit(1L))
        .otherwise(col("id") % 20 + 2).as("k"), col("id").as("v"))
    val right = spark.range(25)
      .select(col("id").as("k"), concat(lit("dim_"), col("id")).as("name"))
    val salted = Skew.saltedJoin(left, right, "k", salts = 8, hotThreshold = 500L)
    val plain = left.join(right, "k")
    val cols = salted.columns.sorted.map(col)
    assert(salted.select(cols: _*).exceptAll(plain.select(cols: _*)).count() == 0)
    assert(plain.select(cols: _*).exceptAll(salted.select(cols: _*)).count() == 0)
  }

  test("Skew.saltedJoin spreads the hot key across salts and leaves cold keys alone") {
    import spark.implicits._
    import graft.api.Skew
    val left = spark.range(5000)
      .select(when(col("id") % 5 < 4, lit(1L))
        .otherwise(col("id") % 20 + 2).as("k"), col("id").as("v"))
    assert(Skew.hotKeys(left, "k", 500L).as[Long].collect().toSeq == Seq(1L))
    // reproduce the builder's left-side salting and check the reducer bound:
    // the 4000-row hot key must spread over all 8 salts, each holding well
    // under the unsalted single-reducer 4000 (2x the ideal 500 as slack for
    // the row-hash distribution); cold keys must all sit on salt 0
    val hot = Skew.hotKeys(left, "k", 500L).withColumn("__hot", lit(true))
    val saltedLeft = left.join(broadcast(hot), Seq("k"), "left")
      .withColumn("__salt",
        when(col("__hot").isNotNull,
          pmod(xxhash64(col("k"), col("v")), lit(8L))).otherwise(lit(0L)))
    val hotCounts = saltedLeft.filter(col("k") === 1L)
      .groupBy("__salt").count().as[(Long, Long)].collect().toMap
    assert(hotCounts.size == 8, s"hot key not spread over all salts: $hotCounts")
    assert(hotCounts.values.max <= 1000L,
      s"per-reducer bound violated: $hotCounts")
    val coldSalts = saltedLeft.filter(col("k") =!= 1L)
      .select("__salt").distinct().as[Long].collect().toSeq
    assert(coldSalts == Seq(0L), s"cold keys salted: $coldSalts")
  }

  test("Skew.saltedJoin spreads a hot key of fully DUPLICATE rows (physical salt)") {
    import spark.implicits._
    import graft.api.Skew
    // 4000 value-identical hot rows (k=1, v=7) — a pure row-value hash
    // would send every one to the same salt; plus cold keys for contrast
    val left = spark.range(5000)
      .select(when(col("id") < 4000, lit(1L)).otherwise(col("id") % 20 + 2).as("k"),
        when(col("id") < 4000, lit(7L)).otherwise(col("id")).as("v"))
    val right = spark.range(25)
      .select(col("id").as("k"), concat(lit("dim_"), col("id")).as("name"))
    // result is still exactly the plain join (multiset equality)
    val salted = Skew.saltedJoin(left, right, "k", salts = 8, hotThreshold = 500L)
    val plain = left.join(right, "k")
    val cols = salted.columns.sorted.map(col)
    assert(salted.select(cols: _*).exceptAll(plain.select(cols: _*)).count() == 0)
    assert(plain.select(cols: _*).exceptAll(salted.select(cols: _*)).count() == 0)
    // and the duplicate hot rows spread: reproduce the builder's left-side
    // salt (value hash + monotonically_increasing_id) and bound the max
    // reducer share — without the physical term this is 4000 on one salt
    val hot = Skew.hotKeys(left, "k", 500L).withColumn("__hot", lit(true))
    val saltedLeft = left.join(broadcast(hot), Seq("k"), "left")
      .withColumn("__salt",
        when(col("__hot").isNotNull,
          pmod(xxhash64(col("k"), col("v"), monotonically_increasing_id()),
            lit(8L))).otherwise(lit(0L)))
    val hotCounts = saltedLeft.filter(col("k") === 1L)
      .groupBy("__salt").count().as[(Long, Long)].collect().toMap
    assert(hotCounts.size == 8,
      s"duplicate-row hot key not spread over all salts: $hotCounts")
    assert(hotCounts.values.max <= 1000L,
      s"per-reducer bound violated on duplicate rows: $hotCounts")
  }

  test("Skew.saltedJoin(rowIdCols) is deterministic and equals the plain join") {
    import spark.implicits._
    import graft.api.Skew
    // v is a stable unique row id: the deterministic-salt path (no
    // monotonically_increasing_id anywhere in the plan — a fetch-failure
    // recompute re-derives identical salts from row VALUES)
    val left = spark.range(5000)
      .select(when(col("id") % 5 < 4, lit(1L))
        .otherwise(col("id") % 20 + 2).as("k"), col("id").as("v"))
    val right = spark.range(25)
      .select(col("id").as("k"), concat(lit("dim_"), col("id")).as("name"))
    val salted = Skew.saltedJoin(left, right, "k", salts = 8,
      hotThreshold = 500L, rowIdCols = Seq("v"))
    val plain = left.join(right, "k")
    val cols = salted.columns.sorted.map(col)
    assert(salted.select(cols: _*).exceptAll(plain.select(cols: _*)).count() == 0)
    assert(plain.select(cols: _*).exceptAll(salted.select(cols: _*)).count() == 0)
    // the plan carries no nondeterministic expression on this path
    val planStr = salted.queryExecution.analyzed.toString
    assert(!planStr.contains("monotonically_increasing_id"),
      "rowIdCols path must not use a physical disambiguator")
    // and the hot key still spreads: reproduce the builder's salt
    val hot = Skew.hotKeys(left, "k", 500L).withColumn("__hot", lit(true))
    val saltedLeft = left.join(broadcast(hot), Seq("k"), "left")
      .withColumn("__salt",
        when(col("__hot").isNotNull,
          pmod(xxhash64(col("k"), col("v")), lit(8L))).otherwise(lit(0L)))
    val hotCounts = saltedLeft.filter(col("k") === 1L)
      .groupBy("__salt").count().as[(Long, Long)].collect().toMap
    assert(hotCounts.size == 8, s"hot key not spread over all salts: $hotCounts")
  }

  test("Skew.hotKeys(sample) detects a planted hot key from a row sample") {
    import spark.implicits._
    import graft.api.Skew
    // 100k rows, 40% on key 1, rest uniform over 2..1001: at sample=0.05
    // the detector scans ~5k rows but must still flag exactly key 1 with
    // threshold 10000 (expected sampled count 2000 vs scaled thr 500)
    val df = spark.range(100000)
      .select(when(col("id") % 5 < 2, lit(1L))
        .otherwise(col("id") % 1000 + 2).as("k"))
    val sampled = Skew.hotKeys(df, "k", 10000L, sample = 0.05)
      .as[Long].collect().toSeq
    assert(sampled == Seq(1L), s"sampled detector flagged $sampled")
    // full-scan default unchanged
    assert(Skew.hotKeys(df, "k", 10000L).as[Long].collect().toSeq == Seq(1L))
  }

  // -------------------------------------------------------------- Sketches

  test("hllMergeEstimate: union-of-shard-sketches == one global sketch, any sharding") {
    import spark.implicits._
    import graft.api.Sketches
    // HLL registers merge by per-register max → the merged estimate must
    // EQUAL the direct estimate exactly, for every way of sharding the rows
    val df = graft.ops.T.events(spark, sf)
      .select(col("event_type"), col("user_id"), col("event_id"),
        to_date(date_trunc("day", col("ts"))).as("day"))
    val direct = Sketches.hllDirectEstimate(df, Seq("event_type"), "user_id")
      .orderBy("event_type")
      .select("event_type", "approx_distinct").as[(String, Long)].collect().toSeq
    val byDay = Sketches.hllMergeEstimate(df, col("day"), Seq("event_type"), "user_id")
      .orderBy("event_type")
      .select("event_type", "approx_distinct").as[(String, Long)].collect().toSeq
    val byMod = Sketches.hllMergeEstimate(df, pmod(col("event_id"), lit(7)),
        Seq("event_type"), "user_id")
      .orderBy("event_type")
      .select("event_type", "approx_distinct").as[(String, Long)].collect().toSeq
    assert(byDay == direct, s"day-sharded merge diverged: $byDay vs $direct")
    assert(byMod == direct, s"mod-sharded merge diverged: $byMod vs $direct")
  }

  test("writeSketchTable/readMergeSketchTable round-trips registers exactly, full and pruned") {
    import spark.implicits._
    import graft.api.Sketches
    val dir = java.nio.file.Files.createTempDirectory("graft_sktest_").toString
    val df = graft.ops.T.events(spark, sf)
      .select(col("event_type"), col("user_id"),
        to_date(date_trunc("day", col("ts"))).as("day"))
    Sketches.writeSketchTable(df, col("day"), Seq("event_type"), "user_id", dir)
    def rows(f: org.apache.spark.sql.DataFrame) = f.orderBy("event_type")
      .select("event_type", "n_shards", "approx_distinct")
      .as[(String, Long, Long)].collect().toSeq
    // full-table merge == in-memory merge (identical registers through parquet)
    val mem = rows(Sketches.hllMergeEstimate(df, col("day"), Seq("event_type"), "user_id"))
    val disk = rows(Sketches.readMergeSketchTable(spark, dir, Seq("event_type")))
    assert(disk == mem, s"stored-table merge diverged: $disk vs $mem")
    // shard-pruned read == in-memory estimate of the same-filtered frame
    val days = df.select(col("day")).distinct().orderBy("day")
      .as[java.sql.Date].collect()
    val cut = days(days.length / 2)
    val memCut = rows(Sketches.hllMergeEstimate(
      df.filter(col("day") >= lit(cut)), col("day"), Seq("event_type"), "user_id"))
    val diskCut = rows(Sketches.readMergeSketchTable(spark, dir, Seq("event_type"),
      col("shard") >= lit(cut)))
    assert(diskCut == memCut, s"pruned merge diverged: $diskCut vs $memCut")
    assert(diskCut != mem, "cutoff pruned nothing — pick a later cut")
  }

  test("hllMergeEstimate lands within 5% of exact countDistinct") {
    import spark.implicits._
    import graft.api.Sketches
    val df = graft.ops.T.events(spark, sf)
      .select(col("event_type"), col("user_id"),
        to_date(date_trunc("day", col("ts"))).as("day"))
    val est = Sketches.hllMergeEstimate(df, col("day"), Seq("event_type"), "user_id")
      .select("event_type", "approx_distinct").as[(String, Long)].collect().toMap
    val exact = df.groupBy("event_type").agg(countDistinct("user_id").as("x"))
      .select("event_type", "x").as[(String, Long)].collect().toMap
    exact.foreach { case (k, x) =>
      assert(math.abs(est(k) - x) <= math.max(1L, (0.05 * x).toLong),
        s"$k: est=${est(k)} exact=$x diverges >5%")
    }
  }

  test("hllIntersectEstimate lands within 5% of the union vs exact intersections") {
    import spark.implicits._
    import graft.api.Sketches
    val ev = graft.ops.T.events(spark, sf).select(col("event_type"), col("user_id"))
    val est = Sketches.hllIntersectEstimate(ev, "event_type", "user_id")
      .select("set_a", "set_b", "est_union", "est_intersect")
      .as[(String, String, Long, Long)].collect()
      .map { case (a, b, u, i) => (a, b) -> ((u, i)) }.toMap
    val m = ev.distinct()
    val exact = m.as("a").join(m.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type"), col("b.event_type"))
      .agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect()
      .map { case (a, b, n) => (a, b) -> n }.toMap
    assert(est.keySet == exact.keySet, s"pair sets differ: ${est.keySet} vs ${exact.keySet}")
    exact.foreach { case (k, x) =>
      val (u, i) = est(k)
      // inclusion–exclusion compounds three ~1.6%-RSE estimates, so the
      // envelope is relative to the UNION size (the builder's error-bar
      // contract), not the intersection
      assert(math.abs(i - x) <= math.max(1L, (0.05 * u).toLong),
        s"$k: est=$i exact=$x union=$u — outside the 5%-of-union envelope")
    }
  }

  test("histQuantiles merge is shard-invariant and within one bin of exact rank") {
    import spark.implicits._
    import graft.api.Sketches
    val ev = graft.ops.T.events(spark, sf)
      .select(col("value"), col("event_id"),
        to_date(date_trunc("day", col("ts"))).as("day"))
    val qs = Seq(0.5, 0.9, 0.99)
    val byDay = Sketches.histQuantiles(ev, "value", col("day"), 256, qs)
      .select("q", "est").as[(Double, Double)].collect().toMap
    val byMod = Sketches.histQuantiles(ev, "value", pmod(col("event_id"), lit(13)), 256, qs)
      .select("q", "est").as[(Double, Double)].collect().toMap
    // bin counts are integers summed per bin → sharding must not move a bit
    assert(byDay == byMod, s"shard-variant quantiles: $byDay vs $byMod")
    // accuracy envelope: est must sit between the exact (q∓0.01) quantiles
    val exact = graft.ops.T.events(spark, sf)
      .select(expr("percentile(value, array(0.49D,0.5D,0.51D,0.89D,0.9D,0.91D,0.98D,0.99D,1.0D))"))
      .as[Seq[Double]].head()
    def bounds(i: Int) = (exact(i - 1), exact(i + 1))
    Seq(0.5 -> 1, 0.9 -> 4, 0.99 -> 7).foreach { case (qv, i) =>
      val (lo, hi) = bounds(i)
      assert(byDay(qv) >= lo && byDay(qv) <= hi,
        s"q=$qv est=${byDay(qv)} outside exact ±1-rank band [$lo, $hi]")
    }
  }

  // --------------------------------------------------------------- Quality

  test("Quality.report counts violations in one pass, nulls count as violations") {
    import spark.implicits._
    import graft.api.Quality
    val df = Seq[(java.lang.Long, String)](
      (1L, "a"), (2L, "b"), (-3L, "c"), (null, "d"), (5L, null))
      .toDF("amount", "tag")
    val r = Quality.report(df, "t", Seq(
        Quality.Check("pos_amount", "amount", col("amount") <= 0),
        Quality.Check("tag_present", "tag", col("tag").isNull)))
      .orderBy("rule_id")
      .select("rule_id", "n_rows", "n_violations", "pass")
      .as[(String, Long, Long, Boolean)].collect().toSeq
    // amount: −3 violates, null amount → null predicate → violation; 5 ok
    assert(r == Seq(("pos_amount", 5L, 2L, false), ("tag_present", 5L, 1L, false)))
  }

  test("Quality.quarantine routes every row to exactly one side with its audit trail") {
    import spark.implicits._
    import graft.api.Quality
    val df = Seq[(java.lang.Long, java.lang.Long, String)](
      (1L, 10L, "a"), (2L, -5L, "b"), (3L, 20L, null), (4L, null, "d"),
      (5L, -1L, null))
      .toDF("id", "amount", "tag")
    val checks = Seq(
      Quality.Check("neg_amount", "amount", col("amount") < 0),
      Quality.Check("tag_missing", "tag", col("tag").isNull))
    val (pass, quar) = Quality.quarantine(df, checks)
    // clean rows only on the pass side, schema unchanged
    assert(pass.columns.toSeq == df.columns.toSeq)
    assert(pass.select("id").as[Long].collect().toSet == Set(1L))
    // quarantined rows carry the SORTED violated-rule set; a null
    // predicate (null amount) counts as a violation
    val audit = quar.select(col("id"),
        concat_ws(",", col("violated_rules")).as("v"))
      .as[(Long, String)].collect().toMap
    assert(audit == Map(2L -> "neg_amount", 3L -> "tag_missing",
      4L -> "neg_amount", 5L -> "neg_amount,tag_missing"),
      s"wrong audit trail: $audit")
    // partition: no row lost, no row on both sides
    assert(pass.count() + quar.count() == df.count())
  }

  test("Quality uniqueKey and fkIntegrity find planted violations") {
    import spark.implicits._
    import graft.api.Quality
    val child = Seq((1L, "x"), (1L, "y"), (2L, "z"), (9L, "o"), (9L, "p"))
      .toDF("k", "v")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val uk = Quality.uniqueKey(child, "child", "k", "uk")
      .select("n_rows", "n_violations", "pass")
      .as[(Long, Long, Boolean)].head()
    assert(uk == ((5L, 2L, false))) // 5 rows, 3 distinct keys
    val fk = Quality.fkIntegrity(child, "child", "k", parent, "pk", "fk")
      .select("n_rows", "n_violations", "pass")
      .as[(Long, Long, Boolean)].head()
    assert(fk == ((5L, 2L, false))) // the two k=9 rows are orphans
  }

  test("Tables.compactFiles reduces file count without touching content") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_compact_spec_")
    val inDir = root.resolve("in").toString
    val outDir = root.resolve("out").toString
    val df = spark.range(0, 1000)
      .select(col("id"), (col("id") % 7).as("grp"))
    df.repartition(20).write.option("maxRecordsPerFile", 50L).parquet(inDir)
    def parquetFiles(dir: String) = new java.io.File(dir)
      .listFiles().count(f => f.getName.endsWith(".parquet"))
    assert(parquetFiles(inDir) >= 20, "damage write should fragment")
    val out = graft.api.Tables.compactFiles(spark, inDir, outDir, 250L)
    assert(parquetFiles(outDir) == 4, // ceil(1000/250)
      s"expected 4 compacted files, got ${parquetFiles(outDir)}")
    val a = out.orderBy("id").as[(Long, Long)].collect().toSeq
    val b = df.orderBy("id").as[(Long, Long)].collect().toSeq
    assert(a == b, "compaction must preserve content bit-for-bit")
  }

  // --------------------------------------------------------------- HostCpu

  test("HostCpu.otherShare: idle and iowait are not busy, steal is; clamps at 0") {
    // user nice system idle iowait irq softirq steal guest guest_nice
    val (busy, total) =
      HostCpu.parse("cpu  100 20 30 400 50 6 4 40 70 0")
    assert(busy == 2.0 && total == 6.5, s"busy $busy total $total")
    val a = HostCpu.Sample(busy, total, 0.5)
    // 4 s of host busy over 10 s, 1 s of it this process's: 0.3 other
    val b = HostCpu.Sample(busy + 4.0, total + 10.0, 1.5)
    assert(math.abs(HostCpu.otherShare(a, b) - 0.3) < 1e-9)
    // only steal moves: all of it is someone else's
    val stolen = HostCpu.parse("cpu  100 20 30 400 50 6 4 140 70 0")
    assert(HostCpu.otherShare(a, HostCpu.Sample(stolen._1, stolen._2, 0.5)) == 1.0)
    // idle and iowait move: nothing is busy
    val idle = HostCpu.parse("cpu  100 20 30 500 150 6 4 40 70 0")
    assert(HostCpu.otherShare(a, HostCpu.Sample(idle._1, idle._2, 0.5)) == 0.0)
    // the process used more than the host's busy delta (tick rounding)
    assert(HostCpu.otherShare(a, b.copy(procCpuS = 9.0)) == 0.0)
    // a zero-length window
    assert(HostCpu.otherShare(a, a) == 0.0)
    assert(HostCpu.otherShare(b, a) == 0.0)
  }

  // ---------------------------------------------------------------- Layout

  test("Layout.zValue interleaves bits bijectively") {
    import spark.implicits._
    import graft.api.Layout
    val grid = spark.range(0, 256)
      .select((col("id") % 16).cast("int").as("x"),
        (col("id") / 16).cast("int").as("y"))
    val z = grid.select(Layout.zValue(col("x"), col("y"), 4).as("z"))
    assert(z.distinct().count() == 256, "z must be a bijection on the grid")
    assert(z.agg(min("z"), max("z")).as[(Long, Long)].head() == ((0L, 255L)))
    // spot values: x=3 (0b0011), y=5 (0b0101) → 1+2+4+32 = 39
    val spot = Seq((3, 5), (1, 0), (0, 1), (15, 15)).toDF("x", "y")
      .select(Layout.zValue(col("x"), col("y"), 4).as("z"))
      .as[Long].collect().toSeq
    assert(spot == Seq(39L, 1L, 2L, 255L))
    // the 64-bit shift space is live past the int-width wrap point: at
    // bits=20 the y-term shifts reach 39, which a masked int shift would
    // fold mod 32 — pin a value whose high interleaved bits survive
    val wide = Seq((0, 1 << 19)).toDF("x", "y")
      .select(Layout.zValue(col("x"), col("y"), 20).as("z"))
      .as[Long].head()
    assert(wide == (1L << 39), s"bits=20 z-value wrapped: $wide")
  }

  test("zOrderWrite gives every file a disjoint z-range and a local (x,y) box") {
    import spark.implicits._
    import graft.api.Layout
    val outDir = java.nio.file.Files.createTempDirectory("graft_zorder_spec_")
      .resolve("out").toString
    // uniform 16×16 grid, 16 rows per cell → 4096 rows, 16 rows per z value
    val df = spark.range(0, 4096)
      .select((col("id") % 16).cast("int").as("x"),
        ((col("id") / 16) % 16).cast("int").as("y"))
    val z = df.withColumn("z", Layout.zValue(col("x"), col("y"), 4))
    val back = Layout.zOrderWrite(spark, z, "z", 16, outDir)
    val files = back.groupBy(input_file_name().as("f"))
      .agg(min("z").as("lo"), max("z").as("hi"),
        ((max("x") - min("x") + 1) * (max("y") - min("y") + 1)).as("area"))
      .orderBy("lo")
      .select("lo", "hi", "area").as[(Long, Long, Int)].collect().toSeq
    assert(files.size == 16, s"expected 16 z-range files, got ${files.size}")
    files.sliding(2).foreach {
      case Seq((_, hi1, _), (lo2, _, _)) =>
        assert(hi1 < lo2, s"overlapping z-ranges: hi=$hi1 lo=$lo2")
      case _ =>
    }
    // range boundaries come from sampling, so a file may straddle a tile
    // border — but locality must hold: nothing near the full 16×16 grid
    val areas = files.map(_._3)
    assert(areas.max <= 64, s"a file's box covers ${areas.max} cells (> 4 tiles)")
    assert(areas.sum.toDouble / areas.size <= 32.0,
      s"mean box area ${areas.sum / 16.0} — z-clustering not localizing")
  }

  test("z-ordered layout SKIPS files a single-key sort must read (the read payoff)") {
    import graft.api.Layout
    import org.apache.spark.sql.execution.FileSourceScanExec
    // the Layout scaladoc's claim, measured: a layout sorted on x alone
    // answers `y = …` by reading EVERY file; the z-ordered copy of the
    // same rows reads only the files whose (min_y, max_y) zone admits it.
    // The observable is the scan's OWN numOutputRows metric — rows the
    // parquet reader materialized after row-group min/max pruning of the
    // pushed-down predicate — not the post-filter result size.
    val root = java.nio.file.Files.createTempDirectory("graft_zskip_spec_")
    val naiveDir = root.resolve("naive").toString
    val zDir = root.resolve("zorder").toString
    val df = spark.range(0, 4096)
      .select((col("id") % 16).cast("int").as("x"),
        ((col("id") / 16) % 16).cast("int").as("y"))
    df.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(naiveDir)
    Layout.zOrderWrite(spark,
      df.withColumn("z", Layout.zValue(col("x"), col("y"), 4)), "z", 16, zDir)
    def materialized(dir: String): (Long, Long) = {
      val rd = spark.read.parquet(dir).filter(col("y") === 3)
      val n = rd.count()
      // count() re-plans; execute the frame itself to read its scan metric
      rd.collect()
      val scanRows = rd.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s
      }.map(_.metrics("numOutputRows").value).sum
      (n, scanRows)
    }
    val (nNaive, naiveScan) = materialized(naiveDir)
    val (nZ, zScan) = materialized(zDir)
    assert(nNaive == 256 && nZ == 256, "both layouts must return the 256 rows")
    // x-sorted layout: every file spans all y → zero row groups skip
    assert(naiveScan == 4096L,
      s"x-sorted layout should materialize every row for a y predicate: $naiveScan")
    // z-ordered layout: only files whose y-box admits y=3 are read
    assert(zScan <= naiveScan / 2,
      s"z-ordered scan should skip most files: scanned $zScan of $naiveScan")
  }

  test("Sql.registerFts exposes the FTS metrics to spark.sql; view == builder") {
    val ev = graft.ops.T.events(spark, sf)
    graft.api.Sql.registerFts(ev, k = 3)
    // the SQL face returns exactly what the Scala builder returns
    val viaSql = spark.sql(
      "SELECT user_id, n_events, n_errors, error_rate FROM fts_success_rate")
    val direct = graft.api.Fts
      .successRate(ev, Seq("user_id"), col("event_type") === "error")
      .select("user_id", "n_events", "n_errors", "error_rate")
    assert(viaSql.exceptAll(direct).count() == 0 &&
      direct.exceptAll(viaSql).count() == 0,
      "fts_success_rate view must equal the Fts.successRate builder")
    // views inline before optimization: a consumer predicate pushes THROUGH
    // the view into the parquet scan (the SQL surface pays what Scala pays)
    val p = spark.sql(
      "SELECT * FROM fts_hourly WHERE event_type = 'error'")
      .queryExecution.executedPlan.toString
    assert(p.contains("EqualTo(event_type,error)"),
      s"consumer predicate must push through the view to the scan:\n$p")
    // the top-k view honors k per group with the registered deterministic order
    val topCounts = spark.sql(
      "SELECT event_type, count(*) AS n FROM fts_top_events GROUP BY 1")
      .collect().map(_.getAs[Long]("n"))
    assert(topCounts.nonEmpty && topCounts.forall(_ <= 3L))
  }

  test("Sql.registerCorpus exposes the corpus pipeline to spark.sql; view == builder") {
    val docs = graft.ops.T.documents(spark, sf)
    graft.api.Sql.registerCorpus(docs)
    // dedup view == builder row-for-row, and the SQL deletion-list idiom
    // (WHERE dup_rank > 1) counts exactly the non-survivors
    val viaSql = spark.sql(
      "SELECT doc_id, dup_rank FROM corpus_exact_dups")
    val direct = graft.api.Dedup
      .exactDupRank(docs, "doc_id", lower(trim(col("text"))))
      .select("doc_id", "dup_rank")
    assert(viaSql.exceptAll(direct).count() == 0 &&
      direct.exceptAll(viaSql).count() == 0)
    val nonSurvivors = spark.sql(
      "SELECT count(*) FROM corpus_exact_dups WHERE dup_rank > 1")
      .collect()(0).getLong(0)
    assert(nonSurvivors == direct.filter(col("dup_rank") > 1).count())
    assert(nonSurvivors ==
      docs.count() - direct.filter(col("dup_rank") === 1).count())
    // quality view: the kept gate agrees with the builder's counts
    val keptSql = spark.sql(
      "SELECT count(*) FROM corpus_quality WHERE kept").collect()(0).getLong(0)
    val keptDirect = graft.api.Text.qualityFlags(docs, "text", "n_chars",
        graft.api.Text.defaultStopwords)
      .filter(col("kept")).count()
    assert(keptSql == keptDirect && keptSql > 0)
    // token-count view carries all three counters per doc
    val tc = spark.sql("SELECT n_ws, n_re, n_bpe4 FROM corpus_token_counts")
    assert(tc.count() == docs.count())
  }

  test("Sql.registerVectors exposes ANN top-k to spark.sql; view == builder (r12)") {
    val emb = graft.ops.T.embeddings(spark, sf)
    graft.api.Sql.registerVectors(emb, k = 5, queryMod = 50L)
    val viaSql = spark.sql("SELECT q_id, n_id, rn FROM ann_neighbors")
    val nv = graft.api.Vectors.normalized(emb, "embedding")
      .select(col("vec_id"), col("vd"), col("nrm"))
    val direct = graft.api.Vectors
      .cosineTopK(nv, nv.filter(col("vec_id") % 50 === 0), "vec_id", 5)
      .select("q_id", "n_id", "rn")
    assert(viaSql.exceptAll(direct).count() == 0 &&
      direct.exceptAll(viaSql).count() == 0,
      "ann_neighbors view must equal the cosineTopK builder")
    // vec_norms makes ad-hoc SQL scoring possible via the registered
    // scalar functions; a self-cosine is 1 on every non-degenerate vector
    graft.functions.VectorFunctions.register(spark)
    val selfCos = spark.sql(
      """SELECT vec_dot(vd, vd) / (nrm * nrm) AS c FROM vec_norms
         WHERE nrm > 0""").collect().map(_.getDouble(0))
    assert(selfCos.nonEmpty && selfCos.forall(c => math.abs(c - 1.0) < 1e-9))
  }

  test("Sql.registerGraph exposes degree metrics to spark.sql; view == builder (r12)") {
    import spark.implicits._
    // two cliques of 4 and 3, symmetric directed list
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (10L, 11L), (10L, 12L), (11L, 12L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    graft.api.Sql.registerGraph(edges)
    val degs = spark.sql("SELECT node, degree FROM graph_degrees")
      .as[(Long, Long)].collect().toMap
    assert(degs(1L) == 3L && degs(10L) == 2L && degs.size == 7)
    val dist = spark.sql(
      "SELECT degree, n_nodes FROM graph_degree_dist ORDER BY degree")
      .as[(Long, Long)].collect().toSeq
    assert(dist == Seq((2L, 3L), (3L, 4L)))
    // the assortativity view equals the builder (guard disabled = plan
    // knob only)
    val viaSql = spark.sql("SELECT * FROM graph_assortativity").collect()(0)
    val direct = graft.api.Graph.assortativity(edges).collect()(0)
    assert(viaSql.getAs[Long]("n_edges_directed") ===
      direct.getAs[Long]("n_edges_directed"))
    assert(viaSql.getAs[Double]("assortativity") ===
      direct.getAs[Double]("assortativity"))
  }

  test("connectedComponents reliable-checkpoint path equals the local default (r12)") {
    import spark.implicits._
    // durability is a physical knob: per-round state written to a shared
    // directory (survives executor loss on a cluster) must produce the
    // same components as the default executor-local blocks
    val chain = (0L until 64L).map(i => (i, i + 1))
    val pairs = (chain ++ Seq((200L, 201L), (201L, 202L))).toDF("a_id", "b_id")
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_spec_")
      .toFile.getAbsolutePath
    try {
      val local = Dedup.connectedComponents(pairs)
        .as[(Long, Long)].collect().toMap
      val reliable = Dedup.connectedComponents(pairs,
          checkpointDir = Some(dir))
        .as[(Long, Long)].collect().toMap
      assert(reliable === local)
      assert(local.values.toSet === Set(0L, 200L)) // min-id components
      // the reliable path actually wrote round state into the directory
      def anyFile(f: java.io.File): Boolean = {
        val kids = f.listFiles()
        kids != null && kids.exists(k => k.isFile || anyFile(k))
      }
      assert(anyFile(new java.io.File(dir)),
        "reliable checkpoint must write files under checkpointDir")
    } finally {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      rm(new java.io.File(dir))
    }
  }

  test("reliable checkpoints survive a restart over the same dir (r13)") {
    // the lifecycle the durable knob exists for: a convergence loop dies
    // mid-session (preemption, driver restart) and a NEW session re-runs
    // the solver over the SAME checkpoint directory. The restart must
    // (a) complete with identical components, (b) write its own round
    // state, and (c) leave the prior session's round files untouched —
    // setCheckpointDir mints a fresh UUID subdir per context, so restarts
    // accumulate beside, never clobber (the caller owns deletion).
    import spark.implicits._
    val edges = (0L until 64L).map(i => (i, i + 1)) ++
      Seq((200L, 201L), (201L, 202L))
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_restart_")
      .toFile.getAbsolutePath
    def files(f: java.io.File): Seq[java.io.File] = {
      val kids = Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
      kids.filter(_.isFile).toSeq ++ kids.filter(_.isDirectory).flatMap(files)
    }
    try {
      val first = Dedup.connectedComponents(
          edges.toDF("a_id", "b_id"), checkpointDir = Some(dir))
        .as[(Long, Long)].collect().toMap
      val afterFirst = files(new java.io.File(dir))
        .map(f => f.getAbsolutePath -> f.length).toMap
      assert(afterFirst.nonEmpty, "first run must leave round state behind")
      // simulated session drop: a fresh SparkSession (new session state
      // over the shared local context — the closest one JVM gets to a
      // driver restart) re-runs the solver against the same directory
      val s2 = spark.newSession()
      val second = {
        import s2.implicits._
        Dedup.connectedComponents(
            edges.toDF("a_id", "b_id"), checkpointDir = Some(dir))
          .as[(Long, Long)].collect().toMap
      }
      assert(second === first)
      assert(first.values.toSet === Set(0L, 200L))
      val afterSecond = files(new java.io.File(dir))
        .map(f => f.getAbsolutePath -> f.length).toMap
      // prior round state re-readable: same files, same bytes
      afterFirst.foreach { case (p, len) =>
        assert(afterSecond.get(p).contains(len),
          s"restart disturbed prior session's checkpoint file $p")
      }
      assert((afterSecond.keySet -- afterFirst.keySet).nonEmpty,
        "the restarted solver must write its own round state")
    } finally {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      rm(new java.io.File(dir))
    }
  }

  test("nodeHint derates the approx node-count probe by the safety margin (r12)") {
    import spark.implicits._
    // ~100 distinct nodes; approx_count_distinct lands within a few % of
    // 100. At ceiling 110 the derated bound is 88 < estimate -> NO hint
    // (the estimator-error guard); at ceiling 1000 the bound is 800 ->
    // hint. identity returns the SAME reference; broadcast wraps it.
    val edges = (0L until 50L).map(i => (2 * i, 2 * i + 1)).toDF("src", "dst")
    val probeFrame = Seq((1L, 2L)).toDF("node", "x")
    val tight = graft.api.Graph.nodeHint(edges, broadcastMaxNodes = 110L)
    val roomy = graft.api.Graph.nodeHint(edges, broadcastMaxNodes = 1000L)
    assert(tight(probeFrame) eq probeFrame,
      "a ceiling inside the estimator margin must drop the hint")
    assert(!(roomy(probeFrame) eq probeFrame),
      "a ceiling clear of the margin must keep the hint")
  }

  test("equi-depth bucketing balances a power-law value domain (r15)") {
    import spark.implicits._
    // the r13-r14 equi-width split put ~97% of THIS domain's distinct
    // values in bucket 0 (max value dwarfs the median), collapsing the
    // within-bucket window toward one reducer; equi-depth cuts must bound
    // every bucket near |distinct|/buckets for ANY distribution
    val n = 8192
    val pre = (1 to n).map(i => (0, i.toLong * i * i * i, 1L, 0L))
      .toDF("gk", "v", "c1", "c2")
    val b = Fts.equiDepthBucketed(pre, "gk", "v", 32)
      .select("v", "bucket").as[(Long, Long)].collect().toSeq
    assert(b.size == n)
    val shares = b.groupBy(_._2).view.mapValues(_.size.toDouble / n)
    assert(shares.values.max <= 2.5 / 32,
      s"a bucket holds ${shares.values.max} of the distinct values: $shares")
    // monotone: v < v' => bucket(v) <= bucket(v') — the property the
    // offsets algebra needs from ANY bucketing
    val sorted = b.sortBy(_._1).map(_._2)
    assert(sorted.zip(sorted.tail).forall { case (a, c) => a <= c })
    // and the riders stay exact on the same domain: cum equals the
    // single-pass ordered prefix sum
    val cc = Fts.cumulativeCounts2(
        pre.select(col("gk"), col("v")), "gk", "v", lit(1L), lit(2L))
      .orderBy("v").select("cum1", "cum2")
      .as[(Long, Long)].collect().toSeq
    assert(cc == (1 to n).map(i => (i.toLong, 2L * i)))
  }

  test("cumulativeCounts2 with literal cuts equals the per-key-sketch form row for row (r16)") {
    import spark.implicits._
    // the shared-cuts overload must be RESULT-NEUTRAL under any cut array
    // (bucketing only needs monotonicity): same frame, three cut choices —
    // the internal sketch, a caller-derived global sketch, and a
    // deliberately LOPSIDED literal array — all identical rows
    val rows = Seq(
      ("a", -3L, 1L), ("a", 0L, 1L), ("a", 7L, 2L), ("a", 9L, 1L),
      ("b", 5L, 3L), ("b", 9L, 1L), ("b", 11L, 2L)).toDF("k", "v", "m")
    def run(cuts: Option[Seq[Double]]) =
      Fts.cumulativeCounts2(rows, "k", "v", lit(1L), col("m"), 4, cuts)
        .orderBy("k", "v")
        .select("k", "v", "c1", "c2", "cum1", "cum2")
        .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    val internal = run(None)
    val derived = run(Some(Fts.equiDepthCuts(rows, "v", 4)))
    val lopsided = run(Some(Seq(8.5, 8.75, 100.0)))
    assert(derived == internal, s"derived cuts diverged: $derived vs $internal")
    assert(lopsided == internal, s"lopsided cuts diverged: $lopsided vs $internal")
    // the non-numeric guard on the public entry points (r15 ADVICE)
    val strs = Seq(("a", "x", 1L)).toDF("k", "v", "m")
    val ex = intercept[IllegalArgumentException](
      Fts.cumulativeCounts2(strs, "k", "v", lit(1L), col("m")))
    assert(ex.getMessage.contains("NumericType"), ex.getMessage)
    graft.api.Caches.sweep(spark)
  }

  test("cumulativeCounts2 matches a single-pass ordered prefix sum exactly") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // ties, negative values, two groups, both weights — the two-stage
    // bucketed form must be BIT-identical to the window it replaces
    val rows = Seq(
      ("a", -3L, 1L), ("a", -3L, 0L), ("a", 0L, 1L), ("a", 7L, 0L),
      ("a", 7L, 1L), ("a", 7L, 1L), ("b", 5L, 0L), ("b", 5L, 1L),
      ("b", 9L, 1L)).toDF("k", "v", "m")
    val got = Fts.cumulativeCounts2(rows, "k", "v", lit(1L), col("m"),
        buckets = 4)
      .orderBy("k", "v")
      .select("k", "v", "c1", "c2", "cum1", "cum2")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    val w = Window.partitionBy("k").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = rows.groupBy("k", "v")
      .agg(sum(lit(1L)).as("c1"), sum(col("m")).as("c2"))
      .withColumn("cum1", sum("c1").over(w))
      .withColumn("cum2", sum("c2").over(w))
      .orderBy("k", "v")
      .select("k", "v", "c1", "c2", "cum1", "cum2")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == want)
  }

  test("a key whose values are all null keeps its rows on every prefix-sum path") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // percentile_approx yields NULL cuts for an all-null key; its rows must
    // land in bucket 0 like on the literal-cuts path, not drop out at the
    // offsets join
    val rows = Seq[(String, Option[Long])](("a", Some(1L)), ("a", Some(2L)),
      ("a", Some(3L)), ("b", None), ("b", None), ("c", Some(5L)), ("c", None))
      .toDF("k", "v")
    def collected(df: org.apache.spark.sql.DataFrame) = df.orderBy("k", "v")
      .select("k", "v", "c1", "c2", "cum1", "cum2")
      .as[(String, Option[Long], Long, Long, Long, Long)].collect().toSeq
    val perKey = collected(
      Fts.cumulativeCounts2(rows, "k", "v", lit(1L), lit(0L)))
    val literal = collected(Fts.cumulativeCounts2(rows, "k", "v", lit(1L),
      lit(0L), 32, Some(Fts.equiDepthCuts(rows, "v"))))
    val w = Window.partitionBy("k").orderBy("v")
    val plain = collected(rows.groupBy("k", "v")
      .agg(sum(lit(1L)).as("c1"), sum(lit(0L)).as("c2"))
      .withColumn("cum1", sum("c1").over(w))
      .withColumn("cum2", sum("c2").over(w)))
    assert(plain.contains(("b", None, 2L, 0L, 2L, 0L)), plain)
    assert(perKey == plain, s"per-key cuts: $perKey vs $plain")
    assert(literal == plain, s"literal cuts: $literal vs $plain")
    val weighted = rows.withColumn("w", lit(1.0))
    val cw = Fts.cumulativeWeights(weighted, "k", "v", "w")
      .filter(col("k") === "b").select("cw").as[Double].collect().toSeq
    assert(cw == Seq(2.0), s"cumulativeWeights for b: $cw")
    val tw = Fts.weightedPercentiles(weighted, "k", "v", "w")
      .filter(col("k") === "b").select("total_weight").as[Double].collect().toSeq
    assert(tw == Seq(2.0), s"weightedPercentiles for b: $tw")
    graft.api.Caches.sweep(spark)
  }

  test("null keys keep their rows on every prefix-sum path") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // a null key is a group like any other: every result equals Spark's
    // window over partitionBy(k).orderBy(v), its null-key rows included
    val rows = Seq[(Option[String], Option[Long], Long)](
      (None, Some(4L), 2L), (None, Some(1L), 1L), (None, Some(4L), 3L),
      (None, None, 4L), (Some("a"), Some(2L), 5L), (Some("a"), Some(9L), 1L),
      (Some("a"), None, 2L)).toDF("k", "v", "m")
    val w = Window.partitionBy("k").orderBy("v")
    def counts(df: org.apache.spark.sql.DataFrame) = df.orderBy("k", "v")
      .select("k", "v", "c1", "c2", "cum1", "cum2")
      .as[(Option[String], Option[Long], Long, Long, Long, Long)].collect().toSeq
    val wantCounts = counts(rows.groupBy("k", "v")
      .agg(sum(lit(1L)).as("c1"), sum(col("m")).as("c2"))
      .withColumn("cum1", sum("c1").over(w))
      .withColumn("cum2", sum("c2").over(w)))
    assert(wantCounts.count(_._1.isEmpty) == 3, wantCounts)
    assert(counts(Fts.cumulativeCounts2(rows, "k", "v", lit(1L), col("m"))) ==
      wantCounts)
    assert(counts(Fts.cumulativeCounts2(rows, "k", "v", lit(1L), col("m"), 32,
      Some(Fts.equiDepthCuts(rows, "v")))) == wantCounts)
    val weighted = rows.withColumn("wt", col("m").cast("double"))
    val wantW = weighted.groupBy("k", "v").agg(sum(col("wt")).as("w"))
      .withColumn("tw", sum("w").over(Window.partitionBy("k")))
      .withColumn("cw", sum("w").over(w))
    def cum(df: org.apache.spark.sql.DataFrame) = df.orderBy("k", "v")
      .select("k", "v", "w", "tw", "cw")
      .as[(Option[String], Option[Long], Double, Double, Double)].collect().toSeq
    assert(cum(Fts.cumulativeWeights(weighted, "k", "v", "wt")) == cum(wantW))
    def pct(df: org.apache.spark.sql.DataFrame) = df.orderBy("k")
      .select("k", "wp50", "wp90", "total_weight")
      .as[(Option[String], Option[Long], Option[Long], Double)].collect().toSeq
    val wantPct = pct(wantW.groupBy("k").agg(
      min(when(col("cw") * 2 >= col("tw"), col("v"))).as("wp50"),
      min(when(col("cw") * 10 >= col("tw") * 9, col("v"))).as("wp90"),
      sum(col("w")).as("total_weight")))
    assert(wantPct.length == 2, wantPct)
    assert(pct(Fts.weightedPercentiles(weighted, "k", "v", "wt")) == wantPct)
    graft.api.Caches.sweep(spark)
  }

  /** `firstLastPctrank(e)` and Spark's own window over `(value, event_id)`
    * per `event_type`, each as rows in `event_id` order.
    */
  private def pctrankAndReference(e: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val wo = Window.partitionBy("event_type").orderBy("value", "event_id")
    val wf = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val want = e.select(col("event_type"), col("event_id"), col("value"),
      first(col("value")).over(wf).as("first_value"),
      last(col("value")).over(wf).as("last_value"),
      percent_rank().over(wo).as("pct_rank"), cume_dist().over(wo).as("cume"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_(1).asInstanceOf[Long]).toSeq
    (rows(graft.ops.Windows.firstLastPctrank(e)), rows(want))
  }

  test("win_first_last_pctrank keeps null values and equals Spark's window over (value, event_id)") {
    import spark.implicits._
    // type a mixes a null into ties, b is all null, c has one row; every
    // row must survive, nulls ranked first (Spark's ascending order)
    val e = Seq[(String, Long, Option[Double])](("a", 1L, Some(2.0)),
      ("a", 2L, None), ("a", 3L, Some(1.0)), ("a", 4L, Some(2.0)),
      ("a", 5L, None), ("b", 6L, None), ("b", 7L, None), ("c", 8L, Some(5.0)))
      .toDF("event_type", "event_id", "value")
    val (got, want) = pctrankAndReference(e)
    assert(got.length === 8)
    assert(got === want)
    // a's null rows rank first: event 2 then 5, and a's first_value is null
    assert(got(1) === Seq("a", 2L, null, null, 2.0, 0.0, 0.2))
    graft.api.Caches.sweep(spark)
  }

  test("win_first_last_pctrank keeps null event_type rows, as Spark's window does") {
    import spark.implicits._
    // a null event_type is one more partition: its rows must rank among
    // themselves, not vanish at the prefix-sum or the stats join
    val e = Seq[(Option[String], Long, Option[Double])](
      (Some("a"), 1L, Some(2.0)), (None, 2L, Some(3.0)), (Some("a"), 3L, Some(1.0)),
      (None, 4L, Some(1.0)), (None, 5L, None), (None, 6L, Some(3.0)),
      (Some("b"), 7L, Some(4.0)))
      .toDF("event_type", "event_id", "value")
    val (got, want) = pctrankAndReference(e)
    assert(got.length === 7)
    assert(got === want)
    // the null type's rows: value null first (event 5), then 1.0, 3.0, 3.0
    assert(got(4) === Seq(null, 5L, null, null, 3.0, 0.0, 0.25))
    graft.api.Caches.sweep(spark)
  }

  test("artifact GC: a parameter change leaves an enumerable stale sibling; dropArtifacts sweeps it") {
    import spark.implicits._
    val dirA = "/tmp/graft_gc_fixture_a"
    val tag = graft.api.Tables.dirTag(dirA)
    // two "parameter generations" of the same artifact family — the
    // identity contract puts the parameter in the name, so the v2 derive
    // creates a NEW table and the v1 sibling goes stale-but-enumerable
    val t1 = s"graft_gcprobe_p1_$tag"
    val t2 = s"graft_gcprobe_p2_$tag"
    val other = "graft_gcprobe_p1_" + graft.api.Tables.dirTag("/tmp/graft_gc_fixture_b")
    try {
      graft.api.Tables.tableOrDerive(spark, t1)(Seq((1L, "x")).toDF("id", "s"))
      graft.api.Tables.tableOrDerive(spark, t2)(Seq((2L, "y")).toDF("id", "s"))
      graft.api.Tables.tableOrDerive(spark, other)(Seq((3L, "z")).toDF("id", "s"))
      val listed = graft.api.Tables.listArtifacts(spark, Some(dirA))
      assert(listed.contains(t1) && listed.contains(t2),
        s"both parameter generations must be enumerable, got $listed")
      assert(!listed.contains(other),
        "dir-scoped listing must exclude other fixture dirs' artifacts")
      val dropped = graft.api.Tables.dropArtifacts(spark, Some(dirA))
      assert(dropped.contains(t1) && dropped.contains(t2) &&
        !dropped.contains(other))
      assert(!spark.catalog.tableExists(t1) && !spark.catalog.tableExists(t2),
        "dropped artifacts must leave the catalog")
      assert(spark.catalog.tableExists(other),
        "a drop scoped to one dir must not touch another dir's artifacts")
      // lifecycle closes: the read-or-derive gate re-derives on next touch
      val again = graft.api.Tables.tableOrDerive(spark, t1)(
        Seq((9L, "r")).toDF("id", "s"))
      assert(again.select("id").as[Long].collect().toSeq == Seq(9L))
    } finally {
      Seq(t1, t2, other).foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("dirTag hash-qualifies: suffix-related dirs can no longer co-scope (r15)") {
    import spark.implicits._
    // pre-r15 failure shape: '/' and '_' both sanitized to '_', so the
    // tag of "/data/sf1" was a suffix of "/root/data/sf1"'s and a
    // dir-scoped list/drop swept both families together
    val inner = "/tmp/data/graft_scope_sf1"
    val outer = "/tmp/root/tmp/data/graft_scope_sf1"
    val tIn = s"graft_scopeprobe_${graft.api.Tables.dirTag(inner)}"
    val tOut = s"graft_scopeprobe_${graft.api.Tables.dirTag(outer)}"
    assert(!graft.api.Tables.dirTag(outer).endsWith(graft.api.Tables.dirTag(inner)),
      "hash qualifier must break sanitized-suffix collisions")
    try {
      graft.api.Tables.tableOrDerive(spark, tIn)(Seq((1L, "i")).toDF("id", "s"))
      graft.api.Tables.tableOrDerive(spark, tOut)(Seq((2L, "o")).toDF("id", "s"))
      val listedIn = graft.api.Tables.listArtifacts(spark, Some(inner))
      assert(listedIn.contains(tIn) && !listedIn.contains(tOut),
        s"inner-dir scope must not capture the outer dir's artifact: $listedIn")
      val droppedIn = graft.api.Tables.dropArtifacts(spark, Some(inner))
      assert(droppedIn == Seq(tIn), s"over-scoped drop: $droppedIn")
      assert(spark.catalog.tableExists(tOut))
    } finally {
      Seq(tIn, tOut).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("artifact gate: racing first callers derive once; nested gates share one lock") {
    import spark.implicits._
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val tag = graft.api.Tables.dirTag("/tmp/graft_race_fixture")
    val Seq(raced, plain, edges, plainInner, edgesInner) =
      Seq("race", "plain", "edges", "plain_inner", "edges_inner")
        .map(f => s"graft_raceprobe_${f}_$tag")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val derives = new java.util.concurrent.atomic.AtomicInteger
      val start = new java.util.concurrent.CountDownLatch(1)
      val racers = (1 to 6).map(_ => Future {
        start.await()
        graft.api.Tables.tableOrDerive(spark, raced) {
          derives.incrementAndGet()
          Seq((1L, "a"), (2L, "b")).toDF("id", "s")
        }.orderBy("id").as[(Long, String)].collect().toSeq
      })
      start.countDown()
      val reads = Await.result(Future.sequence(racers), 3.minutes)
      assert(derives.get == 1, "racing first callers must derive exactly once")
      assert(reads.forall(_ == Seq((1L, "a"), (2L, "b"))), s"reads: $reads")
      // each gate's derive enters the OTHER gate: with two locks taken in
      // opposite orders this pair could deadlock; one lock cannot
      val viaTables = Future {
        graft.api.Tables.tableOrDerive(spark, plain) {
          graft.api.Graph.edgesOrDerive(spark, edgesInner)(
            Seq((1L, 2L)).toDF("u", "v")).count()
          Seq((3L, "c")).toDF("id", "s")
        }.count()
      }
      val viaGraph = Future {
        graft.api.Graph.edgesOrDerive(spark, edges) {
          graft.api.Tables.tableOrDerive(spark, plainInner)(
            Seq((4L, "d")).toDF("id", "s")).count()
          Seq((5L, 6L), (6L, 7L)).toDF("u", "v")
        }.count()
      }
      assert(Await.result(viaTables.zip(viaGraph), 3.minutes) == ((1L, 2L)))
      assert(graft.api.Tables.listArtifacts(spark,
        Some("/tmp/graft_race_fixture")).size == 5)
    } finally {
      pool.shutdown()
      Seq(raced, plain, edges, plainInner, edgesInner)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("artifact leftovers: keys re-run over a dead catalog's warehouse dirs (mixed-case fixture path)") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    // the in-memory catalog dies with its JVM but the table directories stay
    // in the warehouse; the next session must clear them before re-creating.
    // Spark stores a table's directory lowercased, so an uppercase letter in
    // the fixture path is the case a case-preserving clear misses.
    val root = Files.createTempDirectory("graft_leftover")
    val mixed = Files.createSymbolicLink(root.resolve("Fixture_SF0_001"),
      Paths.get(sf)).toString
    val keys = Seq("join_bucketed", "graph_triangles", "graph_edges_persist",
      "llm_ngram_jaccard")
    def tables = spark.catalog.listTables().collect().map(_.name).toSet
    def run(k: String) = {
      val rows = SparkEntry.queries(k)(spark, mixed).collect()
        .map(_.toSeq.mkString("|")).toSeq
      graft.api.Caches.sweep(spark)
      rows
    }
    def copyTree(from: Path, to: Path): Unit =
      Files.walk(from).iterator().asScala.toSeq
        .foreach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    val before = tables
    try {
      val first = keys.map(run)
      val wrote = (tables -- before).toSeq.sorted
      assert(wrote.nonEmpty)
      for (t <- wrote) {
        val loc = Paths.get(spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(t)).location)
        val aside = root.resolve(s"aside_$t")
        copyTree(loc, aside)
        spark.sql(s"DROP TABLE `$t`")
        copyTree(aside, loc)
      }
      for ((k, want) <- keys.zip(first)) assert(run(k) === want, k)
    } finally {
      (tables -- before).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
      Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    }
  }
}
