package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

/** Scale-stress evidence for the dedup/ANN stack (SURVEY.md §6): generates a
  * SKEWED synthetic corpus far past bench scale and runs the iterative /
  * candidate-generating paths (minhash dedup+CC, k-means IVF, semdedup,
  * exact n-gram index+CC, LM perplexity) end-to-end at three sizes each —
  * plus a single-size literal-vs-join k-means training pair — recording
  * per-stage wall time, shuffle volume, task-level peak execution memory,
  * and the connected-components round count as one JSON line (committed as
  * `STRESS.json`).
  *
  * What the record is evidence FOR: the 100 TB design claims that rest on
  * plan shape alone at sf0.1 —
  *  - salted-LSH candidate generation + exact verify grows ~linearly with
  *    corpus size when the duplication-rate/cluster-size DISTRIBUTION is
  *    held fixed (the realistic scale-up: more of the same corpus, not
  *    quadratically denser duplication),
  *  - a FIXED-size mass-duplication mega-cluster (boilerplate) costs the
  *    same at both scales and never concentrates in one task (the two-sided
  *    salt grid; the per-block distribution is asserted in ApiSpec),
  *  - connected components converges in O(log n) rounds — measured directly
  *    on a 4096-link chain (worst label-chain shape) and on the corpus run,
  *  - k-means IVF training/assign/probe grows ~linearly in the index size
  *    (per-iteration work is one shuffle-free codegen projection pass plus a
  *    k×dim codebook collect).
  *
  * Corpus shape (all generation is distributed + hash-deterministic — no
  * RNG state, no driver materialization):
  *  - clusters of near-duplicate docs; cluster sizes follow a bounded
  *    Zipf-ish profile (mass at 1–3, tail to ~51: `1 + ⌊50·v¹⁰⌋` over a
  *    uniform hash v — E[k]≈5.5) that is INDEPENDENT of corpus size, so
  *    expected pair output scales linearly with doc count;
  *  - cluster 0 is the mega-cluster: 1000 near-identical docs at BOTH
  *    sizes (fixed absolute size — real boilerplate does not get denser
  *    when a corpus grows, it gets more clusters);
  *  - mixed doc lengths 10–60 tokens; each doc mutates 2 token positions
  *    of its cluster template (word-level edits ≈ char-5-shingle Jaccard
  *    well above the 0.8 pair threshold within a cluster, ≈0 across).
  *
  * Run: `sbt "runMain graft.Stress [out.json]"` (sizes via
  * SPARK_GRAFT_STRESS_DOCS / _VECS as comma-separated doc/vector counts).
  */
object Stress {

  /** Aggregates the physical-cost observables the record reports. */
  private final class MetricListener extends SparkListener {
    val jobs = new AtomicInteger
    val shuffleWrite = new AtomicLong
    val shuffleRead = new AtomicLong
    val maxTaskPeakExecMem = new AtomicLong
    val spill = new AtomicLong
    // executor run vs CPU time, summed over tasks. Across records of the
    // SAME code and data, cpu_sec ~ constant while run_sec and wall stretch
    // => the threads were runnable-but-starved or blocked on I/O (the
    // run's other_cpu_share tells which); cpu_sec growing with wall => the
    // work itself grew (a real regression).
    val taskRunMs = new AtomicLong
    val taskCpuNs = new AtomicLong
    override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.localBytesRead +
          m.shuffleReadMetrics.remoteBytesRead)
        spill.addAndGet(m.diskBytesSpilled)
        taskRunMs.addAndGet(m.executorRunTime)
        taskCpuNs.addAndGet(m.executorCpuTime)
      }
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        var cur = maxTaskPeakExecMem.get()
        while (m.peakExecutionMemory > cur &&
          !maxTaskPeakExecMem.compareAndSet(cur, m.peakExecutionMemory)) {
          cur = maxTaskPeakExecMem.get()
        }
      }
    }
    def reset(): Unit = {
      jobs.set(0); shuffleWrite.set(0); shuffleRead.set(0)
      maxTaskPeakExecMem.set(0); spill.set(0)
      taskRunMs.set(0); taskCpuNs.set(0)
    }
  }

  private def peakHeapMB: Long =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1 << 20)

  private def resetPeaks(): Unit =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .foreach(p => try p.resetPeakUsage() catch { case _: Exception => () })

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, math.rint((System.nanoTime() - t0) / 1e6) / 1e3)
  }

  /** Blocking unpersist that tolerates blocks already removed by an earlier
    * NON-blocking sweep still draining in the background (the blanket
    * `getPersistentRDDs` sweep and `Caches.sweep` are async; a subsequent
    * blocking removal of the same blocks races them and Spark throws
    * "Block rdd_X_Y does not exist" — observed killing a full stress run).
    * The goal of blocking here is back-pressure (memory actually freed
    * before the next size starts), not the removal itself, so a
    * does-not-exist loss is success, not failure.
    */
  private def unpersistQuietly(df: org.apache.spark.sql.Dataset[_]): Unit =
    try df.unpersist(blocking = true)
    catch { case scala.util.control.NonFatal(_) => () }

  /** `hash01(key expr)` — uniform [0,1) from xxhash64, engine-deterministic. */
  private def h01(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(xxhash64(c), lit(1000000L)).cast("double") / 1000000.0

  /** The skewed near-dup corpus: (doc_id long, text string). */
  def corpus(spark: SparkSession, nDocs: Long): DataFrame = {
    // E[cluster size] ≈ 5.53 for k = 1 + ⌊50·v¹⁰⌋ ⇒ clusters ≈ nDocs/5.53,
    // minus the mega-cluster's fixed 1000 docs
    val clusters = math.max(1L, ((nDocs - 1000) / 5.53).toLong)
    val tok = (key: org.apache.spark.sql.Column) => substring(md5(key), 1, 6)
    spark.range(0L, clusters).select(col("id").as("c"))
      .withColumn("k",
        when(col("c") === 0, lit(1000))
          .otherwise((lit(1) + floor(lit(50) * pow(h01(concat(col("c"), lit("sz"))), 10))).cast("int")))
      .withColumn("len", (lit(10) + pmod(xxhash64(concat(col("c"), lit("ln"))), lit(51L))).cast("int"))
      .select(col("c"), col("len"), explode(sequence(lit(1), col("k"))).as("j"))
      .withColumn("doc_id", col("c") * 1024 + col("j"))
      .withColumn("p1", lit(1) + pmod(xxhash64(concat(col("doc_id"), lit("p1"))), col("len").cast("long")).cast("int"))
      .withColumn("p2", lit(1) + pmod(xxhash64(concat(col("doc_id"), lit("p2"))), col("len").cast("long")).cast("int"))
      .withColumn("text", concat_ws(" ",
        transform(sequence(lit(1), col("len")), t =>
          when(t === col("p1") || t === col("p2"),
            tok(concat(col("doc_id"), lit("m"), t)))
            .otherwise(tok(concat(col("c"), lit("g"), t))))))
      .select("doc_id", "text")
  }

  /** Clusterable synthetic embeddings: (vec_id long, vec array<double>) —
    * 64 latent centers + 0.3-amplitude per-id noise, all hash-derived.
    */
  def vectors(spark: SparkSession, nVecs: Long, dim: Int = 64): DataFrame =
    spark.range(0L, nVecs).select(col("id").as("vec_id"))
      .withColumn("ctr", pmod(xxhash64(concat(col("vec_id"), lit("c"))), lit(64L)))
      .withColumn("vec", transform(sequence(lit(0), lit(dim - 1)), j =>
        (h01(concat(col("ctr"), lit("b"), j)) * 2 - 1) +
          (h01(concat(col("vec_id"), lit("n"), j)) * 2 - 1) * 0.3))
      .select("vec_id", "vec")

  private case class StageRec(name: String, sec: Double, rows: Long,
      extra: Seq[(String, String)] = Nil) {
    def json: String = {
      val e = extra.map { case (k, v) => s""","$k":$v""" }.mkString
      s"""{"name":"$name","sec":$sec,"rows":$rows$e}"""
    }
  }

  private def dedupRun(spark: SparkSession, nDocs: Long): Seq[StageRec] = {
    val recs = scala.collection.mutable.ListBuffer.empty[StageRec]
    val ((docs, nOut), genSec) = timed {
      val d = corpus(spark, nDocs).persist()
      (d, d.count())
    }
    recs += StageRec("gen_corpus", genSec, nOut)
    val ((pairs, nPairs), pairSec) = timed {
      val p = graft.api.Dedup.minhashPairs(docs, "doc_id", "text").persist()
      val n = p.count()
      // the pair frame is materialized: free the builder's interior caches
      // (the ~N×240-row shingle frame dominates) BEFORE the CC rounds — the
      // documented consume-then-sweep lifecycle. Leaving them cached
      // squeezes execution memory for every CC round (first measured run:
      // CC wall 8.3× at 3× corpus, pure GC/spill pressure, rounds unchanged)
      (p, n)
    }
    graft.api.Caches.sweep(spark)
    recs += StageRec("minhash_pairs", pairSec, nPairs)
    val ((rounds, nComp), ccSec) = timed {
      val (c, r) = graft.api.Dedup.connectedComponentsWithRounds(pairs)
      (r, c.agg(countDistinct(col("component"))).head().getLong(0))
    }
    recs += StageRec("connected_components", ccSec, nComp,
      Seq("rounds" -> rounds.toString))
    // free everything this size pinned: OUR frames first with blocking
    // back-pressure (their blocks verifiably exist at this point), THEN the
    // blanket async sweep for the CC label frame's localCheckpoint blocks,
    // which live in persistentRdds — the reverse order raced (see
    // unpersistQuietly)
    unpersistQuietly(pairs)
    unpersistQuietly(docs)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    graft.api.Caches.sweep(spark)
    recs.toSeq
  }

  private def annRun(spark: SparkSession, nVecs: Long): Seq[StageRec] = {
    val recs = scala.collection.mutable.ListBuffer.empty[StageRec]
    val ((nv, nRows), genSec) = timed {
      val n = graft.api.Vectors.normalized(vectors(spark, nVecs), "vec")
        .select(col("vec_id"), col("vd"), col("nrm")).persist()
      (n, n.count())
    }
    recs += StageRec("gen_vectors", genSec, nRows)
    val (cb, trainSec) = timed(
      graft.api.Vectors.kmeansCodebook(nv, "vec_id", k = 64, iters = 2))
    recs += StageRec("kmeans_train_k64_i2", trainSec, 64)
    val ((assigned, aRows), assignSec) = timed {
      val a = graft.api.Vectors.assignCells(nv, cb).persist()
      (a, a.count())
    }
    recs += StageRec("assign_cells", assignSec, aRows)
    val (probeRows, probeSec) = timed {
      val queries = nv.filter(col("vec_id") < 100)
      graft.api.Vectors.ivfProbeWith(assigned, cb, queries, "vec_id", "cell",
        k = 10, probes = 2, salt = 8).count()
    }
    recs += StageRec("ivf_probe_100q", probeSec, probeRows)
    unpersistQuietly(assigned)
    unpersistQuietly(nv)
    graft.api.Caches.sweep(spark)
    recs.toSeq
  }

  /** Production-width PQ at stress scale: m = 8 sub-codebooks (k = 16,
    * 2 iters) trained per 8-dim slice, then the ONE-PASS 8-column
    * literal-argmax encode ([[graft.api.Vectors.pqCodes]]) — the seam
    * llm_ann_pq_recall's m-joined fixture form documents, here measured:
    * the encode is a pure projection (shuffles nothing — the listener's
    * shuffle counters stay at the training stages' level) and must grow
    * linearly with the corpus.
    */
  private def pqRun(spark: SparkSession, nVecs: Long): Seq[StageRec] = {
    val recs = scala.collection.mutable.ListBuffer.empty[StageRec]
    val ((nv, nRows), genSec) = timed {
      val n = graft.api.Vectors.normalized(vectors(spark, nVecs), "vec")
        .select(col("vec_id"), col("vd"), col("nrm")).persist()
      (n, n.count())
    }
    recs += StageRec("gen_vectors", genSec, nRows)
    val (codes, trainSec) = timed(
      graft.api.Vectors.pqCodes(nv, "vec_id", m = 8, k = 16, iters = 2))
    recs += StageRec("pq_train_m8_k16_i2", trainSec, 8L * 16L)
    val (encRows, encSec) = timed(codes.count())
    recs += StageRec("pq_encode_onepass", encSec, encRows)
    unpersistQuietly(nv)
    graft.api.Caches.sweep(spark)
    recs.toSeq
  }

  /** Persisted-index lifecycle at stress scale — the production sequence
    * [[graft.api.Vectors.writeIndex]] (k = 64 train + cell-partitioned
    * layout write) → [[graft.api.Vectors.appendToIndex]] (10% delta under
    * the frozen codebook) → [[graft.api.Vectors.probeIndex]] (100 queries
    * answered from the stored artifacts). The write/append stages must
    * grow linearly with the corpus; the probe's scan is CELL-SELECTIVE
    * (the probed-cell partition filter bounds read volume by the probed
    * cells' share, not the corpus), so probe wall-clock must grow far
    * slower than the write side.
    */
  private def annIndexRun(spark: SparkSession, nVecs: Long): Seq[StageRec] = {
    val recs = scala.collection.mutable.ListBuffer.empty[StageRec]
    val ((nv, nRows), genSec) = timed {
      val n = graft.api.Vectors.normalized(vectors(spark, nVecs), "vec")
        .select(col("vec_id"), col("vd"), col("nrm")).persist()
      (n, n.count())
    }
    recs += StageRec("gen_vectors", genSec, nRows)
    val dir = java.nio.file.Files.createTempDirectory("graft_stress_annidx_")
      .toFile
    try {
      val base = nv.filter(col("vec_id") % 10 =!= 0)
      val delta = nv.filter(col("vec_id") % 10 === 0)
      val (_, writeSec) = timed(
        graft.api.Vectors.writeIndex(base, "vec_id", dir.getAbsolutePath,
          k = 64, iters = 2))
      recs += StageRec("index_write_k64_i2", writeSec, nRows * 9 / 10)
      val (_, appendSec) = timed(
        graft.api.Vectors.appendToIndex(spark, dir.getAbsolutePath, delta,
          "vec_id"))
      recs += StageRec("index_append_10pct", appendSec, nRows / 10)
      val (probeRows, probeSec) = timed {
        val queries = nv.filter(col("vec_id") < 100)
        graft.api.Vectors.probeIndex(spark, dir.getAbsolutePath, queries,
          "vec_id", k = 10, probes = 2, salt = 8).count()
      }
      recs += StageRec("index_probe_100q", probeSec, probeRows)
      // compaction lifecycle: 4 more daily-delta appends (fresh ids — a 5%
      // slice shifted per batch, cells frozen under the stored codebook)
      // accumulate small files per cell=, then ONE compactIndex collapses
      // them; the before/after file totals are the stage sizes
      val slice = nv.filter(col("vec_id") % 20 === 1)
      val (_, appendsSec) = timed {
        (1 to 4).foreach { j =>
          graft.api.Vectors.appendToIndex(spark, dir.getAbsolutePath,
            slice.select((col("vec_id") + lit(j.toLong * nVecs)).as("vec_id"),
              col("vd"), col("nrm")),
            "vec_id")
        }
      }
      recs += StageRec("index_append_4x5pct", appendsSec, nRows / 20 * 4)
      val filesBefore = graft.api.Vectors
        .indexFilesPerCell(spark, dir.getAbsolutePath).values.sum.toLong
      recs += StageRec("files_before_compact", 0.0, filesBefore)
      val (_, compactSec) = timed(
        graft.api.Vectors.compactIndex(spark, dir.getAbsolutePath, "vec_id"))
      recs += StageRec("index_compact", compactSec, nRows + nRows / 20 * 4)
      val filesAfter = graft.api.Vectors
        .indexFilesPerCell(spark, dir.getAbsolutePath).values.sum.toLong
      recs += StageRec("files_after_compact", 0.0, filesAfter)
      val (probeRows2, probeSec2) = timed {
        val queries = nv.filter(col("vec_id") < 100)
        graft.api.Vectors.probeIndex(spark, dir.getAbsolutePath, queries,
          "vec_id", k = 10, probes = 2, salt = 8).count()
      }
      recs += StageRec("index_probe_100q_compacted", probeSec2, probeRows2)
    } finally {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      rm(dir)
      unpersistQuietly(nv)
      graft.api.Caches.sweep(spark)
    }
    recs.toSeq
  }

  /** SemDeDup at stress scale: trained cells as blocking structure, then the
    * within-cell salted pair join (the llm_semdedup shape) over the
    * clusterable corpus. The extra observables are the per-cell pair-count
    * skew — the quantity that decides whether a hot cell can concentrate in
    * one task — alongside the listener's max-task-memory bound.
    *
    * k SCALES WITH THE CORPUS (k = n/128, i.e. ~128 vectors per cell): with
    * k fixed, cell populations grow linearly and the within-cell pair join
    * grows QUADRATICALLY — measured: 3× corpus → 8.5× pair-join wall, and
    * the next 2× step filled the machine's disk with shuffle (every
    * candidate pair carries a 64-dim vector through the verify join). That
    * is the semantic scale contract of SemDeDup, not an implementation
    * artifact: a 100 TB run must size its codebook to bound cell size, and
    * this path measures that the BOUNDED-cell formulation grows linearly.
    * (The literal-codebook assignment holds to k ~ tens of thousands — plan
    * literals of k×dim doubles; past that, assignment becomes a broadcast
    * join of the codebook, the ivfProbe query-side shape.)
    */
  private def semdedupRun(spark: SparkSession, nVecs: Long): Seq[StageRec] = {
    val recs = scala.collection.mutable.ListBuffer.empty[StageRec]
    val k = math.max(16, (nVecs / 128).toInt)
    val ((nv, nRows), genSec) = timed {
      val n = graft.api.Vectors.normalized(vectors(spark, nVecs), "vec")
        .select(col("vec_id"), col("vd"), col("nrm")).persist()
      (n, n.count())
    }
    recs += StageRec("gen_vectors", genSec, nRows)
    val (cb, trainSec) = timed(
      graft.api.Vectors.kmeansCodebook(nv, "vec_id", k = k, iters = 2))
    recs += StageRec(s"kmeans_train_i2", trainSec, k)
    val ((idx, aRows), assignSec) = timed {
      val a = graft.api.Vectors.assignCells(nv, cb)
        .select(col("vec_id"), col("cell"), col("vd"), col("nrm")).persist()
      (a, a.count())
    }
    recs += StageRec("assign_cells", assignSec, aRows)
    val ((nPairs, skew), pairSec) = timed {
      val sig = idx.select(col("vec_id").as("id"), lit(0).as("band"),
        col("cell").as("bsig"))
      val pairs = graft.api.Dedup.saltedBandPairs(sig, salt = 8)
        .join(idx.select(col("vec_id").as("a_id"), col("cell"),
          col("vd").as("a_vd"), col("nrm").as("a_nrm")), "a_id")
        .join(idx.select(col("vec_id").as("b_id"), col("vd").as("b_vd"),
          col("nrm").as("b_nrm")), "b_id")
        .filter(graft.api.Vectors.cosine("a_vd", "a_nrm", "b_vd", "b_nrm") >= 0.8)
        .select(col("cell"), col("a_id"), col("b_id"))
      val row = pairs.groupBy("cell").agg(count(lit(1)).as("np"))
        .agg(coalesce(sum(col("np")), lit(0L)), coalesce(max(col("np")), lit(0L)),
          count(lit(1))).head()
      (row.getLong(0), Seq("max_cell_pairs" -> row.getLong(1).toString,
        "cells_with_pairs" -> row.getLong(2).toString))
    }
    recs += StageRec("semdedup_pairs", pairSec, nPairs, skew)
    unpersistQuietly(idx)
    unpersistQuietly(nv)
    graft.api.Caches.sweep(spark)
    recs.toSeq
  }

  /** Literal-vs-join k-means TRAINING pair at one size: the same corpus
    * and k trained twice, once through the fused literal-codegen assignment
    * (the production path below `literalMaxK`) and once with
    * `literalMaxK = 0` forcing every iteration through [[
    * graft.api.Vectors.assignCellsJoin]] — the branch a corpus-scaled
    * codebook (k > 32768) takes. Until r7 that branch was pinned only for
    * bit-identity (ApiSpec retrain); this run gives the 100 TB claim a
    * MEASURED wall pair instead of a design argument. One size (the mid
    * semdedup size), deliberately outside every growth series.
    */
  private def joinPathRun(spark: SparkSession, nVecs: Long): Seq[StageRec] = {
    val recs = scala.collection.mutable.ListBuffer.empty[StageRec]
    val k = math.max(16, (nVecs / 128).toInt)
    val ((nv, nRows), genSec) = timed {
      val n = graft.api.Vectors.normalized(vectors(spark, nVecs), "vec")
        .select(col("vec_id"), col("vd"), col("nrm")).persist()
      (n, n.count())
    }
    recs += StageRec("gen_vectors", genSec, nRows)
    val (_, litSec) = timed(
      graft.api.Vectors.kmeansCodebook(nv, "vec_id", k = k, iters = 2))
    recs += StageRec("kmeans_train_i2_literal", litSec, k)
    val (_, joinSec) = timed(
      graft.api.Vectors.kmeansCodebook(nv, "vec_id", k = k, iters = 2,
        literalMaxK = 0))
    recs += StageRec("kmeans_train_i2_joinpath", joinSec, k)
    unpersistQuietly(nv)
    graft.api.Caches.sweep(spark)
    recs.toSeq
  }

  /** LM-perplexity path at stress scale: the unigram and bigram nll
    * builders over the skewed corpus. The model join is the stack's one
    * no-hint join whose strategy is deliberately left to the planner/AQE
    * (vocab can outgrow broadcast at corpus scale — and this harness forces
    * the all-shuffle regime via autoBroadcastJoinThreshold=-1, so the
    * record measures the 100 TB plan, not a small-size broadcast). The
    * load-bearing observable is VOCAB growth: bigram vocab ≫ unigram vocab
    * at every size (each recorded as its own stage), and the nll walls must
    * track the token/gram stream ~linearly while the model-side
    * re-aggregates stay vocab-sized. Results are consumed via an
    * aggregate over (count, sum(nll)) so column pruning cannot delete the
    * score computation being measured.
    */
  private def lmRun(spark: SparkSession, nDocs: Long): Seq[StageRec] = {
    val recs = scala.collection.mutable.ListBuffer.empty[StageRec]
    val ((docs, nOut), genSec) = timed {
      val d = corpus(spark, nDocs).persist()
      (d, d.count())
    }
    recs += StageRec("gen_corpus", genSec, nOut)
    val (uVocab, uvSec) = timed {
      docs.select(explode(split(col("text"), " ")).as("tok"))
        .agg(countDistinct(col("tok"))).head().getLong(0)
    }
    recs += StageRec("unigram_vocab", uvSec, uVocab)
    val (uDocs, uniSec) = timed {
      graft.api.Text.unigramNll(docs, "doc_id", "text")
        .agg(count(lit(1)), sum(col("nll"))).head().getLong(0)
    }
    graft.api.Caches.sweep(spark) // the builder's interior tf cache
    recs += StageRec("unigram_nll", uniSec, uDocs)
    val (bVocab, bvSec) = timed {
      graft.api.Dedup.wordGramStrings(docs, "doc_id", "text", 2)
        .agg(countDistinct(col("g"))).head().getLong(0)
    }
    recs += StageRec("bigram_vocab", bvSec, bVocab)
    val (bDocs, biSec) = timed {
      graft.api.Text.bigramNll(docs, "doc_id", "text")
        .agg(count(lit(1)), sum(col("nll"))).head().getLong(0)
    }
    graft.api.Caches.sweep(spark)
    recs += StageRec("bigram_nll", biSec, bDocs)
    unpersistQuietly(docs)
    graft.api.Caches.sweep(spark)
    recs.toSeq
  }

  /** Exact word-n-gram inverted-index path at stress scale: the heaviest
    * bench keys (llm_ngram_jaccard and every consumer of its truth set) ride
    * this index, and its quadratic risk is guarded ONLY by the df cap whose
    * recall loss the oracled `llm_ngram_dfcap_recall` key measures. The cap
    * follows [[graft.api.Dedup.ngramJaccardPairs]]'s scaling rule — hold
    * SELECTIVITY, not value: `maxDf = max(60, n/500)`, above every organic
    * cluster size the corpus generator emits (≤51) and below the FIXED
    * 1000-doc boilerplate mega-cluster at all sizes. So the record shows
    * both halves of the cap's contract at once: `dfcap_hot_grams` counts the
    * boilerplate shingles dropped (≈ constant across sizes — real
    * boilerplate is fixed-size, it does not grow with the corpus) and the
    * capped pair join + CC must grow ~linearly (uncapped, the mega-cluster
    * alone would emit ~len·10⁶ join rows through one gram set).
    *
    * Threshold 0.4, not the API default 0.6: cluster members mutate 2 token
    * positions, so word-3-gram Jaccard between two cluster-mates is
    * ≈ (L−14)/(L+10) for length L ∈ [10,60] — 0.4 admits pairs from the
    * longer half of the length distribution (a size-independent fraction,
    * which is what a growth ratio needs), where 0.6 would keep only L ≳ 50.
    */
  private def ngramRun(spark: SparkSession, nDocs: Long): Seq[StageRec] = {
    val recs = scala.collection.mutable.ListBuffer.empty[StageRec]
    val maxDf = math.max(60L, nDocs / 500)
    val ((docs, nOut), genSec) = timed {
      val d = corpus(spark, nDocs).persist()
      (d, d.count())
    }
    recs += StageRec("gen_corpus", genSec, nOut)
    // the cap's scan alone (one aggregate over the distinct-gram frame —
    // cheap next to the pair join): how many distinct shingles this corpus
    // size reclassifies as boilerplate
    val (nHot, hotSec) = timed {
      graft.api.Dedup.wordGrams(docs, "doc_id", "text", 3)
        .groupBy("g").agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDf).count()
    }
    recs += StageRec("dfcap_hot_grams", hotSec, nHot,
      Seq("max_df" -> maxDf.toString))
    val ((pairs, nPairs), pairSec) = timed {
      val p = graft.api.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.4, maxDf = maxDf).persist()
      (p, p.count())
    }
    graft.api.Caches.sweep(spark) // the builder's interior gram cache
    recs += StageRec("ngram_pairs", pairSec, nPairs)
    val ((rounds, nComp), ccSec) = timed {
      val (c, r) = graft.api.Dedup.connectedComponentsWithRounds(pairs)
      (r, c.agg(countDistinct(col("component"))).head().getLong(0))
    }
    recs += StageRec("connected_components", ccSec, nComp,
      Seq("rounds" -> rounds.toString))
    unpersistQuietly(pairs)
    unpersistQuietly(docs)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    graft.api.Caches.sweep(spark)
    recs.toSeq
  }

  /** Duplicated-span marking at stress scale: the gram stream is the
    * corpus's every word-8-gram POSITION (~len−7 rows per doc — the largest
    * intermediate any r7 operator materializes per doc), and the path's
    * scale claim is that marking is LINEAR — one map-side-combinable
    * cross-doc aggregate plus one gram-keyed left join, never a pair join —
    * so a boilerplate gram shared by the 1000-doc mega-cluster costs its
    * row count, not a df² blowup (the exact-Jaccard path needs a df cap for
    * the same corpus; this one provably does not). Cluster-mates differ in
    * 2 token positions, so every member shares long runs with its cluster
    * ⇒ `dup_spans` is a large, size-tracking fraction of the stream, and
    * the wall/shuffle ratios must track the size ratio.
    */
  private def spanRun(spark: SparkSession, nDocs: Long): Seq[StageRec] = {
    val recs = scala.collection.mutable.ListBuffer.empty[StageRec]
    val ((docs, nOut), genSec) = timed {
      val d = corpus(spark, nDocs).persist()
      (d, d.count())
    }
    recs += StageRec("gen_corpus", genSec, nOut)
    val ((nDocsOut, nDup, nSpans), markSec) = timed {
      val r = graft.api.Dedup.dupSpanFractions(docs, "doc_id", "text", n = 8)
        .agg(count(lit(1)).as("docs"), sum(col("n_dup")).as("dup"),
          sum(col("n_spans")).as("spans")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    graft.api.Caches.sweep(spark) // the builder's interior gram-stream cache
    recs += StageRec("dup_mark", markSec, nDocsOut,
      Seq("dup_spans" -> nDup.toString, "n_spans" -> nSpans.toString))
    unpersistQuietly(docs)
    graft.api.Caches.sweep(spark)
    recs.toSeq
  }

  /** Winnowing fingerprint selection + fp-key candidate blocking
    * ([[graft.api.Dedup.winnowFingerprints]] → [[graft.api.Dedup.saltedBandPairs]],
    * the [[graft.api.Dedup.winnowCandidates]] composition with the
    * fingerprint frame measured separately). Claims under stress: (a)
    * selection is ONE linear window pass with output density ~2/(w+1) of
    * the gram stream; (b) the candidate join survives the mega-cluster's
    * hot fingerprints via the two-sided salted grid — its pair count is
    * dominated by the constant-size mega-cluster (~k²/2) plus a linear
    * cluster-mix term, never a df² surprise.
    */
  private def winnowRun(spark: SparkSession, nDocs: Long): Seq[StageRec] = {
    val recs = scala.collection.mutable.ListBuffer.empty[StageRec]
    val ((docs, nOut), genSec) = timed {
      val d = corpus(spark, nDocs).persist()
      (d, d.count())
    }
    recs += StageRec("gen_corpus", genSec, nOut)
    val fps = graft.api.Dedup
      .winnowFingerprints(docs, "doc_id", "text").persist()
    val ((nFp, nGrams), selSec) = timed {
      val nf = fps.count()
      val ng = fps.select(col("id"), col("n_grams")).distinct()
        .agg(sum(col("n_grams"))).head().getLong(0)
      (nf, ng)
    }
    recs += StageRec("winnow_select", selSec, nFp,
      Seq("n_grams" -> nGrams.toString,
        "density" -> f"${nFp.toDouble / nGrams}%.4f"))
    val (nPairs, candSec) = timed {
      graft.api.Dedup.saltedBandPairs(
        fps.select(col("id"), lit(0).as("band"), col("fp").as("bsig"))
          .distinct()).count()
    }
    recs += StageRec("winnow_pairs", candSec, nPairs)
    unpersistQuietly(fps)
    unpersistQuietly(docs)
    recs.toSeq
  }

  /** Capped co-order-graph ingestion + degree-ordered triangle counting
    * ([[graft.ops.Graphs.capBaskets]] → [[graft.api.Graph.triangles]]) on a
    * synthetic basket table whose order 0 is a planted 1000-item
    * MEGA-BASKET (the shape TPC-H never exhibits — its baskets cap at 7 —
    * but real market-basket data does). Claims under stress:
    * (a) the basket cap bounds every order's pair fan-out at
    * C(64, 2) = 2016 edges — each basket's pairs come from its capped
    * sorted array, where the mega-basket would emit C(1000, 2) = 499 500
    * uncapped; the record shows the measured
    * per-order maximum; (b) the truncation is SURFACED (n_capped_orders),
    * not silent; (c) end-to-end wall grows ~linearly in order count at a
    * fixed basket-size profile.
    */
  private def trianglesRun(spark: SparkSession, nOrders: Long): Seq[StageRec] = {
    val recs = scala.collection.mutable.ListBuffer.empty[StageRec]
    val nParts = math.max(100L, nOrders / 4)
    val ((items, nItems), genSec) = timed {
      // basket size 1 + ⌊20·v³⌋ (mass at 1-5, tail to 21); order 0 → 1000
      val d = spark.range(0L, nOrders).select(col("id").as("ok"))
        .withColumn("bsz", when(col("ok") === 0, lit(1000))
          .otherwise((lit(1) + floor(lit(20.0) * pow(h01(col("ok")), 3.0)))
            .cast("int")))
        .select(col("ok"), explode(sequence(lit(1), col("bsz"))).as("pos"))
        .select(col("ok"),
          pmod(xxhash64(col("ok"), col("pos")), lit(nParts)).as("pk"))
        .distinct().persist()
      (d, d.count())
    }
    recs += StageRec("gen_baskets", genSec, nItems)
    val ((nEdges, nCapped, maxOrderPairs), edgeSec) = timed {
      val (e0, capStats) = graft.ops.Graphs.capBaskets(items)
      val cached = e0.persist()
      val ne = cached.count()
      val nc = capStats.head().getLong(0)
      // bounded-reducer evidence: the largest SINGLE basket's pair
      // contribution after the cap (the mega-basket would be 499500)
      val mop = items.groupBy("ok")
        .agg(least(count(lit(1)), lit(graft.ops.Graphs.MAXBASKET.toLong))
          .as("k"))
        // k(k-1) is even, so the double division is exact; cast back
        .agg(max((col("k") * (col("k") - 1) / 2).cast("long")))
        .head().getLong(0)
      unpersistQuietly(cached)
      (ne, nc, mop)
    }
    recs += StageRec("edges_capped", edgeSec, nEdges,
      Seq("n_capped_orders" -> nCapped.toString,
        "max_order_pairs" -> maxOrderPairs.toString,
        "uncapped_mega_pairs" -> "499500"))
    // r13: surface the EXACT wedge count BEFORE the generation job — the
    // one superlinear stage this run measures. The probe is the same
    // aggregate Graph.triangles runs as its wedge-budget guard, recorded
    // standalone so the STRESS record shows the number the guard sees
    // (and how far under Graph.WEDGE_BUDGET the largest planted run sits).
    val ((nWedges, probeEdges), probeSec) = timed {
      val (e0, _) = graft.ops.Graphs.capBaskets(items)
      val (_, oriented) = graft.api.Graph.orient(e0)
      val (ne, nw) = graft.api.Graph.wedgeProbe(oriented)
      (nw, ne)
    }
    recs += StageRec("wedge_probe", probeSec, nWedges,
      Seq("n_edges" -> probeEdges.toString,
        "wedge_budget" -> graft.api.Graph.WEDGE_BUDGET.toString))
    val (nTri, triSec) = timed {
      val (e0, _) = graft.ops.Graphs.capBaskets(items)
      graft.api.Graph.triangles(e0).head().getAs[Long]("n_triangles")
    }
    recs += StageRec("triangles", triSec, nTri)
    graft.api.Caches.sweep(spark)
    // k-core peel + bounded BFS on the same capped graph (the other two
    // Pregel-shaped api.Graph builders): per round the only shuffle is
    // NODE-grain (the alive set / the frontier distinct) — the edge list,
    // planted mega-hub included, is read in place under broadcast hints
    // and never reshuffled. Survivor/reach counts recorded so a semantic
    // drift in the builders shows in the stress record too.
    val (nCore, coreSec) = timed {
      val (e0, _) = graft.ops.Graphs.capBaskets(items)
      val adj = graft.api.Graph.symmetric(e0)
      graft.api.Graph.kcore(adj, k = 30, rounds = 3).count()
    }
    recs += StageRec("kcore_k30_r3", coreSec, nCore)
    graft.api.Caches.sweep(spark)
    val (nReach, bfsSec) = timed {
      val (e0, _) = graft.ops.Graphs.capBaskets(items)
      val adj = graft.api.Graph.symmetric(e0)
      graft.api.Graph.bfsHops(adj, source = 0L, maxHops = 3).count()
    }
    recs += StageRec("bfs_3hops", bfsSec, nReach)
    graft.api.Caches.sweep(spark)
    unpersistQuietly(items)
    recs.toSeq
  }

  /** r14 path: the two-stage bucketed prefix sum (`Fts.cumulativeCounts2`)
    * at fact scale — the form that replaced the repo's last single-reducer
    * rank windows (agg_quantile_normalize / agg_ks_test / agg_mann_whitney).
    * The generated frame is the KS shape: near-unique continuous values,
    * two sides split by a hash bit, one constant grouping key — i.e. the
    * worst case for the old plan (a single task sorts EVERY row) and the
    * representative case for the new one (distinct-value grain ≈ row
    * count; the only window partitions on (key, bucket) — 32 reducers).
    * Stages: the full cumulative frame (counted), then the closing KS
    * statistic off it (1-row). Growth across sizes should track the row
    * count ~linearly in wall AND shuffle.
    */
  private def rankPrefixRun(spark: SparkSession, nRows: Long): Seq[StageRec] = {
    val recs = scala.collection.mutable.ListBuffer.empty[StageRec]
    val ((src, nGen), genSec) = timed {
      val d = spark.range(0L, nRows)
        .select(
          // near-unique continuous value in [0, 1e9)
          (h01(col("id")) * 1e9).as("v"),
          pmod(xxhash64(col("id"), lit(7)), lit(2)).cast("long").as("isa"))
        .persist()
      (d, d.count())
    }
    recs += StageRec("gen_rows", genSec, nGen)
    val (nVals, ccSec) = timed {
      graft.api.Fts.cumulativeCounts2(src.withColumn("gk", lit(0)), "gk",
        "v", col("isa"), lit(1L) - col("isa")).count()
    }
    recs += StageRec("cumulative_counts", ccSec, nVals)
    val (ksD6, ksSec) = timed {
      val n = src.agg(sum("isa").as("n1"),
        (count(lit(1)) - sum(col("isa"))).as("n2"))
      val d = graft.api.Fts.cumulativeCounts2(src.withColumn("gk", lit(0)),
          "gk", "v", col("isa"), lit(1L) - col("isa"))
        .select(col("cum1").as("k1"), col("cum2").as("k2"))
        .crossJoin(broadcast(n))
        .agg(max(abs(col("k1").cast("double") / col("n1")
          - col("k2").cast("double") / col("n2"))).as("ks_d"))
        .head().getDouble(0)
      math.rint(d * 1e6).toLong // stage rows field carries ks_d·1e6
    }
    recs += StageRec("ks_statistic_e2e", ksSec, ksD6)
    unpersistQuietly(src)
    recs.toSeq
  }

  /** r14 path: sampled betweenness (forward-σ/backward-δ Brandes from a
    * 4-probe set, 3 hops) on the same capped co-order graph as the
    * triangles path — the DAG is ≤ 4×|E| rows and every σ/δ level is one
    * hash aggregate, so wall and shuffle should track the edge count
    * ~linearly; the checkpoint-per-stage plan keeps optimizer time flat
    * (the lazy unroll is exponential in hops — PLANS.md r14).
    */
  private def betweennessRun(spark: SparkSession, nOrders: Long): Seq[StageRec] = {
    val recs = scala.collection.mutable.ListBuffer.empty[StageRec]
    val nParts = math.max(100L, nOrders / 4)
    val ((items, nItems), genSec) = timed {
      val d = spark.range(0L, nOrders).select(col("id").as("ok"))
        .withColumn("bsz", when(col("ok") === 0, lit(1000))
          .otherwise((lit(1) + floor(lit(20.0) * pow(h01(col("ok")), 3.0)))
            .cast("int")))
        .select(col("ok"), explode(sequence(lit(1), col("bsz"))).as("pos"))
        .select(col("ok"),
          pmod(xxhash64(col("ok"), col("pos")), lit(nParts)).as("pk"))
        .distinct().persist()
      (d, d.count())
    }
    recs += StageRec("gen_baskets", genSec, nItems)
    val ((edges, nEdges), edgeSec) = timed {
      val (e0, _) = graft.ops.Graphs.capBaskets(items)
      val adj = graft.api.Graph.symmetric(e0)
        .persist()
      (adj, adj.count())
    }
    recs += StageRec("edges_sym", edgeSec, nEdges)
    val ((nReached, bcSum6), bcSec) = timed {
      val bc = graft.api.Graph.betweennessSampled(edges,
        sources = Seq(1L, 2L, 3L, 5L), maxHops = 3)
      val r = bc.agg(count(lit(1)).as("n"),
        sum(col("bc").cast(org.apache.spark.sql.types.DecimalType(28, 6)))
          .cast("double").as("s")).head()
      (r.getLong(0), math.rint(r.getDouble(1)).toLong)
    }
    recs += StageRec("betweenness_4src_3hop", bcSec, nReached,
      Seq("bc_sum_rounded" -> bcSum6.toString))
    graft.api.Caches.sweep(spark)
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    unpersistQuietly(edges)
    unpersistQuietly(items)
    recs.toSeq
  }

  /** r16 path (the r15 verdict's scc-stress ask): the phased SCC
    * decomposition on a PLANTED DEEP directed graph — chains of length 48
    * (the round driver: trim peels open chains one position per round,
    * min-reach/mark walk the closed cycles' diameter), every 4th chain
    * closed into a cycle (a nontrivial SCC of 48 nodes), every OPEN
    * chain's tail feeding its group's closed head (connectivity without
    * uncontrolled path lengths — open heads stay sources, so ALL open
    * chains peel in parallel). Expected decomposition: trim dissolves ~3/4
    * of the nodes in ~48 bulk rounds, ONE phase resolves every cycle
    * simultaneously (~48 reach + ~48 mark rounds) — rounds stay ~constant
    * across sizes while width scales, which is exactly the claim the
    * record must demonstrate. A final stage records the REFUSAL contract's
    * trigger point: maxRounds below the chain depth must throw with the
    * knob, never return merged/split components.
    */
  private def sccRun(spark: SparkSession, nNodes: Long): Seq[StageRec] = {
    val recs = scala.collection.mutable.ListBuffer.empty[StageRec]
    val L = 48L
    val ((edges, nEdges), genSec) = timed {
      val d = spark.range(0L, nNodes)
        .select(col("id"), expr(s"id div $L").as("c"), expr(s"id % $L").as("p"))
      // id + 1 < nNodes: when nNodes is not a multiple of L the last
      // partial chain's tail would otherwise edge to node id nNodes —
      // outside the generated range, a phantom sink entering the node set
      // and drifting the planted invariants the record narrates (r16
      // ADVICE). The partial chain stays an open feed-less chain (its p
      // never reaches L-1), which trim peels like any other open chain.
      val fwd = d.filter(col("p") < L - 1 && col("id") + 1 < nNodes)
        .select(col("id").as("src"), (col("id") + 1).as("dst"))
      val closeCycle = d.filter(col("p") === L - 1 && col("c") % 4 === 0)
        .select(col("id").as("src"), (col("id") - (L - 1)).as("dst"))
      val feed = d.filter(col("p") === L - 1 && col("c") % 4 =!= 0)
        .select(col("id").as("src"),
          ((col("c") - col("c") % 4) * L).as("dst"))
      val e = fwd.unionByName(closeCycle).unionByName(feed).persist()
      (e, e.count())
    }
    recs += StageRec("gen_chain_graph", genSec, nEdges)
    val ((stats, nNontrivial), sccSec) = timed {
      val (r, st) = graft.api.Graph.stronglyConnectedWithStats(edges,
        maxRounds = 3 * L.toInt, maxPhases = 8)
      val nt = r.groupBy("scc").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2).count()
      (st, nt)
    }
    recs += StageRec("scc_phased", sccSec, nNontrivial,
      stats.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString })
    // the refusal trigger point: a round budget below the planted depth
    // must throw with the knob in the message — rows=1 records it fired
    val (refused, refSec) = timed {
      try {
        graft.api.Graph.stronglyConnected(edges, maxRounds = 8).count(); 0L
      } catch {
        case e: IllegalArgumentException if e.getMessage.contains("maxRounds") => 1L
      }
    }
    recs += StageRec("refusal_below_depth", refSec, refused,
      Seq("max_rounds_tried" -> "8", "planted_depth" -> L.toString))
    graft.api.Caches.sweep(spark)
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    unpersistQuietly(edges)
    recs.toSeq
  }

  /** r17 path (the r16 verdict's ask #6a): the lag+cumsum SESSIONIZE shape
    * at fact scale — the most-copied production pattern in the repo
    * (stream_session / win_sessionize / win_gaps_islands all build on it).
    * Generated stream: ~256 events per regular user over a 180-day span
    * plus ONE hot entity with a FIXED 100k events (the skew shape: a hot
    * user does not get hotter when the corpus grows — more users arrive).
    * Stage 2 is the canonical lag-gap → prefix-sum session assembly (one
    * shuffle on user_id, per-user sort bounded by the hot user's constant
    * 100k rows); stage 3 is the day−row_number gaps-islands form on the
    * DISTINCT (user, day) grain (the collapse means island work is
    * calendar-bounded per user regardless of event volume). Expected
    * growth: wall and shuffle ~linear in the row count; the hot user's
    * partition is constant-size so its sort never becomes the bottleneck.
    */
  private def sessionizeRun(spark: SparkSession, nRows: Long): Seq[StageRec] = {
    import org.apache.spark.sql.expressions.Window
    val recs = scala.collection.mutable.ListBuffer.empty[StageRec]
    val ((ev, nGen), genSec) = timed {
      val hot = math.min(100000L, nRows / 2)
      val nUsers = math.max(1L, (nRows - hot) / 256)
      val spanUs = 180L * 86400000000L
      val d = spark.range(0L, nRows).select(
          when(col("id") < hot, lit(0L))
            .otherwise(lit(1L) + pmod(xxhash64(col("id"), lit("u")), lit(nUsers)))
            .as("user_id"),
          pmod(xxhash64(col("id"), lit("t")), lit(spanUs)).as("em"),
          col("id").as("event_id"))
        .persist()
      (d, d.count())
    }
    recs += StageRec("gen_events", genSec, nGen)
    val ((nSessions, maxSess), sessSec) = timed {
      val wOrd = Window.partitionBy("user_id").orderBy("em", "event_id")
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sess = ev
        .withColumn("new_sess",
          when(col("em") - lag(col("em"), 1).over(wOrd) > 1800000000L, 1)
            .otherwise(lit(0)))
        .withColumn("sess_id", sum(col("new_sess")).over(wRun))
        .groupBy("user_id", "sess_id")
        .agg(count(lit(1)).as("n_events"))
      val r = sess.agg(count(lit(1)).as("n"), max(col("n_events")).as("mx")).head()
      (r.getLong(0), r.getLong(1))
    }
    recs += StageRec("sessionize_lag_cumsum", sessSec, nSessions,
      Seq("max_session_events" -> maxSess.toString))
    val ((nIslands, maxIsland), giSec) = timed {
      val days = ev.select(col("user_id"),
        expr("em div 86400000000").as("day")).distinct()
      val w = Window.partitionBy("user_id").orderBy("day")
      val isl = days.withColumn("grp", col("day") - row_number().over(w))
        .groupBy("user_id", "grp")
        .agg(count(lit(1)).as("n_days"))
      val r = isl.agg(count(lit(1)).as("n"), max(col("n_days")).as("mx")).head()
      (r.getLong(0), r.getLong(1))
    }
    recs += StageRec("gaps_islands_day_grain", giSec, nIslands,
      Seq("max_island_days" -> maxIsland.toString))
    unpersistQuietly(ev)
    recs.toSeq
  }

  /** r17 path (the r16 verdict's ask #6b): the interval-sweep pair — the
    * O(n + days) boundary-delta prefix sum (the `win_interval_sweep` /
    * `join_point_in_interval` rewrite) measured AGAINST the O(n·len̄)
    * day-grain explode it replaced, on the same generated intervals
    * (day-grain lo over a 3-year calendar, lengths 0..60, mean 30). The
    * sweep's cost must track n (its day series is calendar-bounded at
    * ~1095 rows no matter how many intervals); the explode's cost must
    * track n·len̄ (~31× more rows through the per-day aggregate) — the
    * measured gap IS the 100 TB argument for the rewrite. The third stage
    * also CROSS-CHECKS exactness: per day, the exclusive-end explode count
    * (`lo ≤ d < hi`) must equal the sweep's cumulative `cw` at that
    * boundary day — `coverage_mismatch_days` must read 0 (at these sizes
    * every calendar day is a boundary day, so the join covers the full
    * spine).
    */
  private def intervalSweepRun(spark: SparkSession, nIv: Long): Seq[StageRec] = {
    val recs = scala.collection.mutable.ListBuffer.empty[StageRec]
    val ((iv, nGen), genSec) = timed {
      val d = spark.range(0L, nIv).select(
          pmod(xxhash64(col("id"), lit("lo")), lit(1095L)).as("lo"),
          pmod(xxhash64(col("id"), lit("ln")), lit(61L)).as("len"))
        .withColumn("hi", col("lo") + col("len"))
        .persist()
      (d, d.count())
    }
    recs += StageRec("gen_intervals", genSec, nGen)
    var cum: DataFrame = null
    val ((nDays, maxOpen), swSec) = timed {
      val dl = iv.select(col("lo").as("dn"), lit(1L).as("delta"))
        .union(iv.select(col("hi").as("dn"), lit(-1L).as("delta")))
        .withColumn("g", lit(1))
      cum = graft.api.Fts.cumulativeWeights(dl, "g", "dn", "delta")
        .select(col("dn"), col("cw").cast("bigint").as("open_cnt"))
        .persist()
      val r = cum.agg(count(lit(1)).as("n"), max(col("open_cnt")).as("mx")).head()
      (r.getLong(0), r.getLong(1))
    }
    recs += StageRec("sweep_boundary_prefix", swSec, nDays,
      Seq("max_open_intervals" -> maxOpen.toString))
    val ((mismatches, nExploded), exSec) = timed {
      // exclusive end (lo ≤ d < hi): zero-length intervals contribute no
      // open day, matching the sweep's close-on-end-day convention
      val perDay = iv.filter(col("len") > 0)
        .select(explode(sequence(col("lo"), col("hi") - 1)).as("dn"))
        .groupBy("dn").agg(count(lit(1)).as("open_explode"))
      val joined = perDay.join(cum, Seq("dn"), "inner")
      val r = joined.agg(
        count(when(col("open_explode") =!= col("open_cnt"), 1)).as("bad"),
        sum(col("open_explode")).as("tot")).head()
      (r.getLong(0), r.getLong(1))
    }
    recs += StageRec("day_grain_explode", exSec, nExploded,
      Seq("coverage_mismatch_days" -> mismatches.toString))
    unpersistQuietly(cum)
    unpersistQuietly(iv)
    recs.toSeq
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val docSizes = sys.env.getOrElse("SPARK_GRAFT_STRESS_DOCS", "50000,150000,300000")
      .split(",").map(_.trim.toLong).toSeq
    // ivf sizes are LARGE so per-stage work dominates the few-second fixed
    // costs (plan/codegen/collect) that otherwise bury the growth signal —
    // the r4 record showed 3× size inside ±5% wall, pure fixed-cost noise
    val vecSizes = sys.env.getOrElse("SPARK_GRAFT_STRESS_VECS", "100000,300000,900000")
      .split(",").map(_.trim.toLong).toSeq
    // semdedup candidate volume is ~64×n rows each carrying a 64-dim vector
    // (cell size bounded at ~128 by the scaled codebook): sizes stay below
    // the ivf path's so the verify-join shuffle stays disk-safe
    val semSizes = sys.env.getOrElse("SPARK_GRAFT_STRESS_SEMS", "20000,60000,180000")
      .split(",").map(_.trim.toLong).toSeq
    // exact-index join volume is ~Σ df² per gram ≈ 770·n rows under the
    // scaled cap (see ngramRun): sizes stay below the minhash path's so the
    // single-gram-keyed shuffle stays disk-safe at the biggest size
    val ngramSizes = sys.env.getOrElse("SPARK_GRAFT_STRESS_NGRAMS", "20000,60000,180000")
      .split(",").map(_.trim.toLong).toSeq
    // LM token/gram streams are ~35 rows/doc (vs minhash's ~240 shingles),
    // so the path runs at the dedup sizes
    val lmSizes = sys.env.getOrElse("SPARK_GRAFT_STRESS_LMS", "50000,150000,300000")
      .split(",").map(_.trim.toLong).toSeq
    // the span stream is ~len−7 gram-string rows per doc (comparable to the
    // LM gram volume) and the path never pair-joins, so dedup-path sizes
    val spanSizes = sys.env.getOrElse("SPARK_GRAFT_STRESS_SPANS", "50000,150000,300000")
      .split(",").map(_.trim.toLong).toSeq
    // winnowing selects ~2/(w+1) of the gram stream as fingerprints (linear
    // window pass), but the candidate join rides the mega-cluster's HOT
    // fingerprints (1000 near-identical docs share each selected hash →
    // ~10⁶-row blocks through the salted grid, constant across sizes) —
    // the pair stage's cost must track the cluster mix, not df²
    val winnowSizes = sys.env.getOrElse("SPARK_GRAFT_STRESS_WINNOWS", "50000,150000,300000")
      .split(",").map(_.trim.toLong).toSeq
    // co-order edges are ~Σ C(min(bsz,64),2) ≈ 3.3/order under the size
    // profile plus the mega-basket's capped 2016 — far below the dedup
    // paths' row volumes, so the path runs at the dedup sizes
    val triSizes = sys.env.getOrElse("SPARK_GRAFT_STRESS_TRIS", "50000,150000,300000")
      .split(",").map(_.trim.toLong).toSeq
    // the PQ encode is a pure projection (no pair joins anywhere), so the
    // path runs at the ivf sizes' lower two rungs
    val pqSizes = sys.env.getOrElse("SPARK_GRAFT_STRESS_PQS", "100000,300000")
      .split(",").map(_.trim.toLong).toSeq
    // the rank-prefix rows are 2 longs each and the path is agg/window-only
    // (no pair joins), so it runs well above the doc paths' row counts —
    // the point is distinct-value-grain volume through the 32 bucket
    // reducers, where the replaced plan single-partitioned everything
    val rankSizes = sys.env.getOrElse("SPARK_GRAFT_STRESS_RANKS",
      "2000000,8000000,32000000").split(",").map(_.trim.toLong).toSeq
    // betweenness rides the triangles path's basket graph (edge volume
    // ~3.3/order + the capped mega-basket), DAG ≤ 4×|E|
    val btwSizes = sys.env.getOrElse("SPARK_GRAFT_STRESS_BTWS",
      "50000,150000,300000").split(",").map(_.trim.toLong).toSeq
    // scc rounds are ~constant by construction (fixed chain depth 48);
    // per-round width scales with node count — dedup-path sizes
    val sccSizes = sys.env.getOrElse("SPARK_GRAFT_STRESS_SCCS",
      "50000,150000,300000").split(",").map(_.trim.toLong).toSeq
    // the index lifecycle adds parquet write I/O on top of the kmeans_ivf
    // work, so it runs at the ivf sizes' lower two rungs as well
    val annIdxSizes = sys.env.getOrElse("SPARK_GRAFT_STRESS_ANNIDX", "100000,300000")
      .split(",").map(_.trim.toLong).toSeq
    // session rows are 3 longs and the path is window/agg-only (like
    // rank_prefix), so it runs at the rank sizes' lower rungs; the hot
    // user is a fixed 100k-row partition at every size
    val sessionSizes = sys.env.getOrElse("SPARK_GRAFT_STRESS_SESSIONS",
      "2000000,8000000,32000000").split(",").map(_.trim.toLong).toSeq
    // the explode stage materializes ~31 rows per interval (mean len 30 +
    // 1), so 9M intervals ≈ 280M exploded rows through the per-day hash
    // aggregate — deliberately the expensive member of the pair
    val sweepSizes = sys.env.getOrElse("SPARK_GRAFT_STRESS_SWEEPS",
      "1000000,3000000,9000000").split(",").map(_.trim.toLong).toSeq
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // force the 100 TB join regime at BOTH sizes: with auto-broadcast on,
      // the small size broadcasts candidate/dimension frames the big size
      // shuffles, and the cross-size shuffle ratio measures the plan
      // TRANSITION (observed 26×) instead of the data growth. At corpus
      // scale none of these frames is broadcastable, so the all-shuffle
      // plan is the one whose growth the record must demonstrate.
      // (The deliberate broadcast() hints in the operators are unaffected.)
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new MetricListener
    spark.sparkContext.addSparkListener(listener)
    spark.range(100000).selectExpr("count(DISTINCT id)").collect() // warm-up

    // optional path filter (SPARK_GRAFT_STRESS_PATHS=triangles,dedup_cc):
    // run a subset without paying the full record — smoke tests, triage
    val pathFilter = sys.env.get("SPARK_GRAFT_STRESS_PATHS")
      .map(_.split(",").map(_.trim).toSet)
    def enabled(p: String): Boolean = pathFilter.forall(_.contains(p))

    // unrecorded warm-up at toy size: JIT + codegen-infrastructure compile
    // time otherwise bills entirely to the FIRST measured size and fakes a
    // sublinear growth ratio (the small size looks slower than it is)
    if (enabled("dedup_cc")) dedupRun(spark, 3000)
    if (enabled("kmeans_ivf")) annRun(spark, 2000)
    if (enabled("semdedup") || enabled("kmeans_joinpath")) semdedupRun(spark, 2000)
    if (enabled("ngram_cc")) ngramRun(spark, 3000)
    if (enabled("lm_ppl")) lmRun(spark, 3000)
    if (enabled("span_dedup")) spanRun(spark, 3000)
    if (enabled("winnow")) winnowRun(spark, 3000)
    if (enabled("triangles")) trianglesRun(spark, 3000)
    if (enabled("pq_codes")) pqRun(spark, 2000)
    if (enabled("ann_index")) annIndexRun(spark, 2000)
    if (enabled("rank_prefix")) rankPrefixRun(spark, 50000)
    if (enabled("betweenness")) betweennessRun(spark, 3000)
    if (enabled("scc")) sccRun(spark, 3072)
    if (enabled("sessionize")) sessionizeRun(spark, 50000)
    if (enabled("interval_sweep")) intervalSweepRun(spark, 20000)

    case class Run(path: String, size: Long, wall: Double, shuffleMB: Long,
        json: String)
    def measured(tag: String, size: Long, body: => Seq[StageRec]): Run = {
      listener.reset(); resetPeaks()
      val cpu0 = HostCpu.sample()
      val (stages, wallSec) = timed(body)
      val otherCpu = math.rint(HostCpu.otherShare(cpu0, HostCpu.sample()) * 1000) / 1000
      System.err.println(f"[stress] $tag size=$size wall=$wallSec%.1f s " +
        stages.map(s => f"${s.name}=${s.sec}%.1f").mkString(" "))
      val shuffleMB = listener.shuffleWrite.get / (1 << 20)
      Run(tag, size, wallSec, shuffleMB,
        s"""{"path":"$tag","size":$size,"wall_sec":$wallSec,""" +
          s""""stages":[${stages.map(_.json).mkString(",")}],""" +
          s""""jobs":${listener.jobs.get},""" +
          s""""shuffle_write_mb":$shuffleMB,""" +
          s""""shuffle_read_mb":${listener.shuffleRead.get / (1 << 20)},""" +
          s""""disk_spill_mb":${listener.spill.get / (1 << 20)},""" +
          s""""task_run_sec":${math.rint(listener.taskRunMs.get / 100.0) / 10},""" +
          s""""task_cpu_sec":${math.rint(listener.taskCpuNs.get / 1e8) / 10},""" +
          s""""other_cpu_share":$otherCpu,""" +
          s""""max_task_peak_exec_mb":${listener.maxTaskPeakExecMem.get / (1 << 20)},""" +
          s""""peak_heap_mb":$peakHeapMB}""")
    }

    val runs = scala.collection.mutable.ListBuffer.empty[Run]
    if (enabled("dedup_cc"))
      docSizes.foreach(n => runs += measured("dedup_cc", n, dedupRun(spark, n)))
    if (enabled("kmeans_ivf"))
      vecSizes.foreach(n => runs += measured("kmeans_ivf", n, annRun(spark, n)))
    if (enabled("semdedup"))
      semSizes.foreach(n => runs += measured("semdedup", n, semdedupRun(spark, n)))
    if (enabled("ngram_cc"))
      ngramSizes.foreach(n => runs += measured("ngram_cc", n, ngramRun(spark, n)))
    if (enabled("lm_ppl"))
      lmSizes.foreach(n => runs += measured("lm_ppl", n, lmRun(spark, n)))
    if (enabled("span_dedup"))
      spanSizes.foreach(n => runs += measured("span_dedup", n, spanRun(spark, n)))
    if (enabled("winnow"))
      winnowSizes.foreach(n => runs += measured("winnow", n, winnowRun(spark, n)))
    if (enabled("triangles"))
      triSizes.foreach(n => runs += measured("triangles", n, trianglesRun(spark, n)))
    if (enabled("pq_codes"))
      pqSizes.foreach(n => runs += measured("pq_codes", n, pqRun(spark, n)))
    if (enabled("ann_index"))
      annIdxSizes.foreach(n => runs += measured("ann_index", n, annIndexRun(spark, n)))
    if (enabled("rank_prefix"))
      rankSizes.foreach(n => runs += measured("rank_prefix", n, rankPrefixRun(spark, n)))
    if (enabled("betweenness"))
      btwSizes.foreach(n => runs += measured("betweenness", n, betweennessRun(spark, n)))
    if (enabled("scc"))
      sccSizes.foreach(n => runs += measured("scc", n, sccRun(spark, n)))
    if (enabled("sessionize"))
      sessionSizes.foreach(n => runs += measured("sessionize", n, sessionizeRun(spark, n)))
    if (enabled("interval_sweep"))
      sweepSizes.foreach(n => runs += measured("interval_sweep", n, intervalSweepRun(spark, n)))
    // single-size literal-vs-join training pair (no growth series)
    if (enabled("kmeans_joinpath"))
      runs += measured("kmeans_joinpath", semSizes(1),
      joinPathRun(spark, semSizes(1)))

    // growth ratios between consecutive sizes of each path: the linearity
    // evidence in one place (wall/shuffle ratio ≈ size ratio = linear)
    def r2(v: Double) = math.rint(v * 100) / 100
    val ratios = runs.toList.groupBy(_.path).toSeq.sortBy(_._1).flatMap { case (p, rs) =>
      rs.sortBy(_.size).sliding(2).collect { case List(a, b) =>
        s"""{"path":"$p","size_ratio":${r2(b.size.toDouble / a.size)},""" +
          s""""wall_ratio":${r2(b.wall / a.wall)},""" +
          s""""shuffle_ratio":${r2(b.shuffleMB.toDouble / math.max(1, a.shuffleMB))}}"""
      }
    }

    // worst-case label-chain shape: a single 4096-link chain — pointer
    // doubling must close it in ~log2(4096)=12 rounds, plus the one round
    // whose unchanged label sum stops the loop (the initial state is
    // already the first hook)
    import spark.implicits._
    val chain = (0L until 4096L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val ((chainRounds, chainComps), chainSec) = timed {
      val (c, r) = graft.api.Dedup.connectedComponentsWithRounds(chain)
      (r, c.agg(countDistinct(col("component"))).head().getLong(0))
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    val chainJson = s"""{"chain_links":4096,"rounds":$chainRounds,""" +
      s""""components":$chainComps,"sec":$chainSec}"""

    val heap = Runtime.getRuntime.maxMemory() / (1 << 20)
    val out =
      s"""{"harness":"graft.Stress","cpus":$cpus,"driver_max_heap_mb":$heap,""" +
        s""""runs":[${runs.map(_.json).mkString(",")}],""" +
        s""""growth":[${ratios.mkString(",")}],"cc_chain":$chainJson}"""
    println(out)
    args.headOption.foreach { p =>
      val w = new java.io.PrintWriter(p); try w.println(out) finally w.close()
    }
    spark.stop()
  }
}
