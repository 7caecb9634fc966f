package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-session lifecycle registry for the frames the api builders persist
  * internally.
  *
  * Builders like [[Dedup.minhashPairs]] persist interior frames (signature
  * tables, candidate sets) that the RETURNED lazy plan still references, so
  * the builder itself can never unpersist them — only the caller knows when
  * the composed result has been consumed. Every interior persist therefore
  * routes through [[cache]], and a library user frees all of it with one
  * [[sweep]] call once done:
  *
  * {{{
  *   val pairs = Dedup.minhashPairs(docs, "id", "text")
  *   pairs.write.parquet(out)          // consume the result
  *   Caches.sweep(spark)               // free every builder-cached block
  * }}}
  *
  * [[sweep]] frees the whole registry of a session — correct for the
  * one-consumer-at-a-time shape (the harness sweeps between queries); a
  * sweep from one of several concurrent consumers would also evict the
  * others' still-unconsumed interior frames. Harness surfaces
  * (Verify/Bench/GoldenSpec) call [[sweepAll]] between queries.
  * Checkpointed solver state is not registered here: the solvers free
  * their superseded rounds through [[Checkpoints]], and a round caches
  * nothing besides its checkpoint. A builder
  * whose result is driver-local frees all of its state before it returns
  * and registers nothing here; only the blocks backing a solver's RETURNED
  * frame outlive the call — freeing those would destroy the result.
  */
object Caches {
  private val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  // entries whose SparkContext has stopped can never be swept (unpersist
  // would throw) and would otherwise pin their analyzed plans for the JVM
  // lifetime — drop them on every registry mutation
  private def purgeStopped(): Unit =
    frames.filterInPlace(f => !f.sparkSession.sparkContext.isStopped)

  /** Persist `df` and register it for a later [[sweep]]. Public: composed
    * operators outside `graft.api` (e.g. the `graft.ops` registry queries)
    * persist interior frames under the same lifecycle discipline.
    */
  def cache(df: DataFrame): DataFrame = {
    val out = df.persist()
    synchronized { purgeStopped(); frames += out }
    out
  }

  private def unpersistOrKeep(f: DataFrame): Boolean =
    if (f.sparkSession.sparkContext.isStopped) false
    else {
      try { f.unpersist(blocking = true); false }
      catch {
        case e: Exception =>
          System.err.println(s"[graft.api.Caches] unpersist failed, keeping handle for retry: $e")
          true
      }
    }

  /** Unpersist every registered builder-cached frame belonging to
    * `spark`'s session. Blocking, so `sparkContext.getPersistentRDDs` is
    * clean on return; idempotent (a second sweep, or one after a harness-side
    * unpersist, is a no-op). A TRANSIENT unpersist failure on a live session
    * keeps the entry registered (logged; the next sweep retries) — dropping
    * the handle would turn a recoverable error into a permanent block leak.
    * Entries of stopped sessions are dropped without unpersisting (their
    * blocks died with the context).
    */
  def sweep(spark: SparkSession): Unit = synchronized {
    frames.filterInPlace { f =>
      if (f.sparkSession ne spark) true
      else unpersistOrKeep(f)
    }
    purgeStopped()
  }

  /** The harness sweep between queries: [[sweep]], then everything else a
    * query can leave behind — the SQL cache and every persisted RDD of the
    * context (solver checkpoints live in `getPersistentRDDs`, outside the
    * SQL cache manager). Frees blocks a caller may still hold, so only
    * harness surfaces (Verify, Bench, GoldenGen, the test suites) call it.
    */
  private[graft] def sweepAll(spark: SparkSession): Unit = {
    sweep(spark)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
