package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Per-round lineage truncation, and the one fixed-point loop every
  * open-ended solver runs through ([[Dedup.connectedComponents]],
  * [[Graph.pagerankUntil]], [[Graph.kcoreUntil]], and the min-reach and
  * mark loops of [[Graph.stronglyConnected]]). Loops whose step reads more
  * than the state call [[tracked]] and [[free]] directly for the rest:
  * [[Dedup.connectedComponents]] checkpoints the edge frame every round
  * reads and frees it once the loop ends. A round persists nothing but its
  * checkpoint, and its probe ([[exactSum]], [[exactCount]]) reads that
  * checkpoint in one stage.
  *
  * The free rule: a builder whose result is driver-local (a k-means
  * codebook) frees all of its state before it returns, so nothing it
  * checkpointed outlives the call; only a builder that returns
  * a frame over its final state leaves that state's blocks behind.
  *
  * An open-ended loop must truncate LOGICAL lineage every round (persist
  * alone caches data but re-analyzes the whole plan history, so driver
  * planning cost grows superlinearly with iterations). Two ways to cut it:
  *
  *  - `dir = None` (default): `localCheckpoint(eager)` — blocks live on
  *    executors, fastest, and the right default for local mode and for
  *    restartable jobs. THE TRADE: executor-LOCAL blocks are lineage
  *    roots with no recompute path, so on a real cluster losing one
  *    executor (preemption, OOM kill) fails the whole job — acceptable
  *    when the job simply reruns, fatal for a long convergence loop on
  *    spot instances.
  *  - `dir = Some(path)`: RELIABLE `checkpoint(eager)` into `path` (set as
  *    the context's checkpoint dir on first use) — rounds survive executor
  *    loss because every round's state is re-readable from the shared
  *    filesystem; each round pays a write+read of the (node-grain) state
  *    frame. Checkpoint FILES accumulate under `path` for the session
  *    lifetime unless `spark.cleaner.referenceTracking.cleanCheckpoints`
  *    is on — the caller owns the directory (standard Spark contract:
  *    point it at job-scoped scratch space and delete it with the job).
  *
  * Both paths return the SAME rows (ApiSpec pins reliable == local on the
  * CC solver) — durability is a physical knob, never a semantics knob.
  */
private[api] object Checkpoints {

  private var lastDir: Option[String] = None

  /** Eagerly checkpoint `df` (local or reliable per `dir`) and return the
    * truncated frame; [[free]] releases the blocks behind it.
    */
  def tracked(df: DataFrame, dir: Option[String]): DataFrame = dir match {
    case Some(path) =>
      val sc = df.sparkSession.sparkContext
      // setCheckpointDir mints a fresh UUID SUBDIR under the given path on
      // every call, so "already set?" cannot be read back off the context —
      // remember the last request instead (re-pointing per round would
      // scatter one loop's rounds over as many subdirs). The lock covers
      // the CHECKPOINT WRITE too, not just the dir switch: the context dir
      // is a single process-wide slot, so two concurrent loops with
      // DIFFERENT dirs could otherwise interleave set-then-write and land
      // one loop's round files under the other caller's directory — whose
      // owner may delete it mid-run per the "caller owns the directory"
      // contract. Serializing reliable-checkpoint writes is the price of
      // correctness here (they are per-ROUND, node-grain, and rare);
      // concurrent loops that want parallel checkpoint I/O must share one
      // checkpointDir.
      synchronized {
        if (!lastDir.contains(path) || sc.getCheckpointDir.isEmpty) {
          sc.setCheckpointDir(path)
          lastDir = Some(path)
        }
        df.checkpoint(true)
      }
    case None => df.localCheckpoint(true)
  }

  /** Frees the local-checkpoint blocks behind a frame [[tracked]] returned.
    * The RDD is taken off the frame's own plan, never by diffing
    * `sparkContext.getPersistentRDDs`, which would misattribute RDDs
    * another thread persisted concurrently. A reliable checkpoint holds no
    * blocks (its state lives in files), so freeing it is a no-op, and so
    * is freeing a frame twice.
    */
  def free(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: LogicalRDD if l.rdd.getStorageLevel != StorageLevel.NONE =>
      l.rdd.unpersist(blocking = false)
    case _ => // no blocks, or an unexpected plan shape: leak (bounded) over misfree
  }

  /** Runs an open-ended loop to its fixed point. `init` and every `step`
    * output are checkpointed through [[tracked]], and each round frees the
    * state it replaces, so one generation of state is materialized between
    * rounds. The loop stops once `converged(previous, current)` holds on
    * the probes of consecutive states, or after `maxRounds` rounds.
    * Returns (final state, rounds run, converged); the caller decides what
    * stopping at the cap means.
    *
    * A round issues one checkpoint and one probe: each state is probed
    * once and its value carried into the next round's test. The probes
    * ([[exactSum]], [[exactCount]]) read the checkpointed rows in one
    * stage. `converged` runs before the replaced state is freed, so a
    * probe may return the state frame itself for a test that reads both
    * rounds. A step caches nothing: a subplan it reads twice is planned
    * once and AQE reuses its shuffle stages. The final state's blocks back
    * the returned frame; the caller frees it, if ever, with [[free]].
    */
  def fixedPoint[P](init: DataFrame, maxRounds: Int, dir: Option[String])(
      probe: DataFrame => P)(converged: (P, P) => Boolean)(
      step: DataFrame => DataFrame): (DataFrame, Int, Boolean) = {
    var state = tracked(init, dir)
    var p = probe(state)
    var rounds = 0
    var done = false
    while (!done && rounds < maxRounds) {
      val next = tracked(step(state), dir)
      val q = probe(next)
      done = converged(p, q)
      free(state)
      state = next
      p = q
      rounds += 1
    }
    (state, rounds, done)
  }

  /** Exact sum of a non-null long column, 0 on an empty frame — the
    * probe of the min-label loops: labels only ever decrease, so an
    * unchanged sum means no label moved. The sum is a `BigInt`, so it stays
    * exact where a Long sum would fail on overflow under ANSI mode (ids
    * near `Long.MaxValue`, such as 64-bit hashes) or, without ANSI, wrap
    * and alias two distinct states. One job of one stage over the
    * checkpointed rows: a DataFrame aggregate is a map-stage job plus a
    * result job under AQE.
    */
  def exactSum(c: String)(df: DataFrame): BigInt = {
    val i = df.schema.fieldIndex(c)
    df.queryExecution.toRdd.map(r => BigInt(r.getLong(i))).fold(BigInt(0))(_ + _)
  }

  /** Row count in one job of one stage over the checkpointed rows — the
    * probe of the loops whose state only grows or only shrinks (SCC marks,
    * the k-core peel), so an unchanged count means no row moved; the SCC
    * trim counts its checkpointed node frames with it too.
    */
  def exactCount(df: DataFrame): Long = df.queryExecution.toRdd.count()
}
