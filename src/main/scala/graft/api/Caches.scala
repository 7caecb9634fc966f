package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped lifecycle registry for the frames the api builders persist
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
  * [[sweep]] frees the GLOBAL registry — correct for the one-consumer-
  * at-a-time shape (the harness sweeps between queries). When several
  * consumers build and consume concurrently in one SparkContext, a global
  * sweep from one would evict another's still-unconsumed interior frames;
  * those callers wrap each build+consume in [[scoped]], which binds a
  * private per-call registry to the calling thread (builders run on the
  * caller's thread) and frees exactly its own frames on exit:
  *
  * {{{
  *   Caches.scoped {                   // frames cached in here are scoped
  *     val pairs = Dedup.minhashPairs(docs, "id", "text")
  *     pairs.write.parquet(out)
  *   }                                 // scope's frames freed; others untouched
  * }}}
  *
  * Harness surfaces (Verify/Bench/GoldenSpec) call [[sweepAll]] between
  * queries.
  * Checkpointed solver state is not registered here: the solvers free
  * their superseded rounds through [[Checkpoints]], and a round caches
  * nothing besides its checkpoint. A builder
  * whose result is driver-local frees all of its state before it returns
  * and registers nothing here; only the blocks backing a solver's RETURNED
  * frame outlive the call — freeing those would destroy the result.
  */
object Caches {
  private val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  // a non-null binding routes this thread's cache() calls to a private
  // per-scope buffer instead of the global registry
  private val scope = new ThreadLocal[scala.collection.mutable.ArrayBuffer[DataFrame]]

  // entries whose SparkContext has stopped can never be swept (unpersist
  // would throw) and would otherwise pin their analyzed plans for the JVM
  // lifetime — drop them on every registry mutation
  private def purgeStopped(): Unit =
    frames.filterInPlace(f => !f.sparkSession.sparkContext.isStopped)

  /** Persist `df` and register it for a later [[sweep]] (or, inside
    * [[scoped]], for that scope's exit). Public: composed operators outside
    * `graft.api` (e.g. the `graft.ops` registry queries) persist interior
    * frames under the same lifecycle discipline.
    */
  def cache(df: DataFrame): DataFrame = {
    val out = df.persist()
    val s = scope.get
    if (s != null) { s += out }
    else synchronized { purgeStopped(); frames += out }
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

  /** Run `body` with builder-persisted frames registered to a private
    * scope bound to the CALLING THREAD, freed when `body` finishes (frames
    * an unpersist transiently fails for fall back to the global registry so
    * a later [[sweep]] retries them). Concurrent consumers on other threads
    * — scoped or global — are untouched. Builders invoked from `body` must
    * run on this thread (they do: api builders are plain synchronous calls).
    */
  def scoped[A](body: => A): A = {
    val mine = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val prev = scope.get
    scope.set(mine)
    try body
    finally {
      if (prev == null) scope.remove() else scope.set(prev)
      val stuck = mine.filter(unpersistOrKeep)
      if (stuck.nonEmpty) synchronized { frames ++= stuck }
    }
  }

  /** Unpersist every GLOBALLY-registered builder-cached frame belonging to
    * `spark`'s session (frames inside a live [[scoped]] block are not
    * touched). Blocking, so `sparkContext.getPersistentRDDs` is clean on
    * return; idempotent (a second sweep, or one after a harness-side
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
