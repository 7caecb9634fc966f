package graft
import graft.api.Caches
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Driver-run benchmark: a detail JSON line with per-query seconds, then a
  * short summary JSON line (total/failures/top-5) that survives tail
  * truncation of the captured stdout.
  *
  * Sampling rule. Queries run in sorted-name order, so positional effects
  * (JIT, code-cache drift) are comparable between runs. Each query runs
  * three times, with a fresh plan each time and caches swept between runs;
  * when the two warm samples spread wider than max(their min, 0.25 s), two
  * more samples are taken. The recorded number is the median of all
  * samples. The first (cold) run is also reported with its build/plan/exec
  * split: a driver-side planning regression and an executor-side data
  * regression need different fixes. Failures are recorded as NEGATIVE
  * seconds plus a "failed" list, so a broken query cannot pass for a fast
  * one.
  *
  * Contention evidence. Each detail row carries `other_cpu_share`, the
  * share of host CPU that other processes used while the key's samples ran
  * ([[HostCpu]]), and is `contended` when that share exceeds
  * [[ContendedShare]]; the summary carries the share over the whole
  * measured phase. A key's median is also compared against its committed
  * quiet-host history (`bench_baseline.json`): a median > 3× its baseline
  * and > 1 s above it marks `suspect_load`, which reads "host load" when
  * the row is contended and "regression, bisect" when it is not.
  * Write-heavy keys read above [[ContendedShare]] on an idle host: in two
  * calm full sf0.1 runs (run-level share 0.009 and 0.008) `src_compaction`
  * read 0.106 and 0.108 and `agg_hll_sketch_table` 0.057–0.075. A
  * `contended` flag on those rows alone is therefore no evidence of host
  * load; why they read high is not established.
  *
  * Caches are swept between samples, so every sample pays its builder's
  * cache population (CC checkpoints, bucketed-table writes): each sample
  * measures the standalone-cold query. The one exception is the session
  * artifacts (the graph family's derive-once edge tables, trained-model
  * memos), whose production lifetime is longer than a query. A full-suite
  * run derives them all in an unrecorded setup phase before sampling;
  * `graph_edges_persist` prices that construction through its own
  * per-sample rewrite.
  */
object Bench {
  /** The other-process CPU share above which a row is `contended`. Calm
    * benchmark runs on a 4-vCPU host read at most 0.015, and runs beside a
    * busy neighbour 0.08–0.22.
    */
  private val ContendedShare = 0.05

  /** One measured key's record — the fields behind its BENCH_DETAIL row. */
  private case class Row(name: String, med: Double, build: Double,
    plan: Double, gc: Double, run1: Double, spread: Double, n: Int,
    otherCpu: Double, suspect: Boolean)
  private def codeCacheMB: Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.contains("CodeHeap")).map(_.getUsage.getUsed / 1e6).sum
  private def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // the full registry compiles far more than the default 100 cached generated
      // classes; shared fragments (signature pipelines, fixture scans)
      // re-compile on eviction without a bigger Janino cache
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // events.ts now arrives TIMESTAMP_NTZ (µs fixtures) and casts to
      // TimestampType inside T.events — pin UTC so the cast is
      // wall-clock-preserving regardless of host zone (same as Verify/QRun)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // session warmup: absorb one-time JVM/Hadoop/codegen-infrastructure init
    // so it isn't billed to whichever query happens to run first
    spark.range(100000).selectExpr("count(DISTINCT id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    val failed = mutable.ListBuffer.empty[String]
    // committed per-key quiet-host medians, a flat {"key": seconds} map;
    // only top-level numeric fields are read. A requested baseline that is
    // missing, unreadable or empty says so, since it disables suspect_load.
    val baseline: Map[String, Double] = {
      val envPath = sys.env.get("SPARK_GRAFT_BENCH_BASELINE")
      envPath.filterNot(p => new java.io.File(p).isFile).foreach(p =>
        System.err.println(s"[bench] baseline $p (SPARK_GRAFT_BENCH_BASELINE)" +
          " does not exist — suspect_load detection disabled this run"))
      val path = envPath.orElse(Some("bench_baseline.json"))
      path.filter(p => new java.io.File(p).isFile).map { p =>
        try {
          val root = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(new java.io.File(p))
          val m = root.properties().asScala
            .filter(_.getValue.isNumber)
            .map(e => e.getKey -> e.getValue.asDouble()).toMap
          if (m.isEmpty) System.err.println(
            s"[bench] baseline $p parsed but has zero numeric top-level " +
              "entries — suspect_load detection disabled this run")
          m
        } catch {
          case ex: Exception =>
            System.err.println(s"[bench] baseline $p unreadable " +
              s"(${ex.getClass.getSimpleName}: ${ex.getMessage}) — " +
              "suspect_load detection disabled this run")
            Map.empty[String, Double]
        }
      }.getOrElse(Map.empty)
    }
    // dev-loop subset (comma-separated key names); with no env the full
    // suite runs, and n_queries shows a subset for what it is. Every
    // requested key must exist: a misspelled key would otherwise filter
    // the suite down silently.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    only.foreach { req =>
      val unknown = req.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names unregistered queries: " +
          unknown.toSeq.sorted.mkString(", "))
    }
    // setup phase: derive every session artifact before sampling, so no
    // key's cold sample carries a one-time derive. Full-suite runs only — a
    // subset does not pay for derives of keys it does not measure, and its
    // colds may carry them.
    val setupSec: Double = if (only.isEmpty) {
      val t = System.nanoTime()
      graft.ops.Llm.deriveSessionArtifacts(spark, sfDir)
      graft.ops.Graphs.deriveSessionArtifacts(spark, sfDir)
      // here and between samples: drop the blocks operators persisted so
      // runs stay independent and cold (cache build-up also degrades later
      // queries via GC pressure)
      Caches.sweepAll(spark)
      val sec = (System.nanoTime() - t) / 1e9
      System.err.println(f"[bench] setup: session artifacts derived in $sec%.1f s (unrecorded in per-key numbers)")
      sec
    } else 0.0
    val runStart = HostCpu.sample()
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => only.forall(_.contains(kv._1)))
      .map { case (name, fn) =>
      val gc0 = gcMs
      val cpu0 = HostCpu.sample()
      val t0 = System.nanoTime()
      var buildSec = 0.0
      var planSec = 0.0
      var ok =
        try {
          val df = fn(spark, sfDir)
          // builders with eager setup (bucketed-table writes, iterative
          // checkpoints) spend real time here — report it separately so the
          // plan/exec split stays meaningful
          buildSec = (System.nanoTime() - t0) / 1e9
          df.queryExecution.executedPlan // force analyze+optimize+plan
          planSec = (System.nanoTime() - t0) / 1e9 - buildSec
          // execute the ALREADY-planned query: df.count() would wrap the
          // plan in a new Aggregate QueryExecution, re-planning from scratch
          // and billing that second planning pass to exec time
          df.queryExecution.toRdd.count()
          true
        } catch { case _: Throwable => failed += name; false }
      val run1 = (System.nanoTime() - t0) / 1e9
      val gcSec = (gcMs - gc0) / 1000.0
      Caches.sweepAll(spark)
      // each further sample is a fresh fn() + execute: re-running the SAME
      // QueryExecution's RDD would reuse its shuffle map outputs and time
      // only the final stage
      def runOnce(): Option[Double] = {
        val t = System.nanoTime()
        val r =
          try {
            fn(spark, sfDir).queryExecution.toRdd.count()
            Some((System.nanoTime() - t) / 1e9)
          } catch { case _: Throwable => failed += name; ok = false; None }
        Caches.sweepAll(spark)
        r
      }
      // the spread rule reads the warm samples only: a key's structural
      // cold/warm gap is reported as cold vs med, not re-sampled
      def wide(xs: Seq[Double]): Boolean =
        xs.size > 1 && xs.max - xs.min > math.max(xs.min, 0.25)
      val base = run1 +: (if (ok) (1 to 2).flatMap(_ => runOnce()) else Seq.empty)
      val samples =
        if (ok && wide(base.drop(1))) base ++ (1 to 2).flatMap(_ => runOnce())
        else base
      val otherCpu = HostCpu.otherShare(cpu0, HostCpu.sample())
      // true median: with an even sample count (reachable when an extra run
      // fails) average the two middle samples instead of taking the upper one
      val med = {
        val s = samples.sorted
        if (s.size % 2 == 1) s(s.size / 2)
        else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
      }
      val spread = samples.max - samples.min
      val suspect = ok && baseline.get(name)
        .exists(b => med > 3 * b && med - b > 1.0)
      System.err.println(
        f"[bench] $name%-28s $med%8.2f s  (±$spread%5.2f over ${samples.size} runs${if (otherCpu > ContendedShare) ", CONTENDED" else ""}${if (suspect) ", SUSPECT_LOAD" else ""}, build $buildSec%6.2f, plan $planSec%6.2f, gc +$gcSec%5.2f s, other cpu $otherCpu%5.3f, codeCache $codeCacheMB%5.0f MB${if (ok) "" else ", FAILED"})")
      Row(name, if (ok) med else -med, buildSec, planSec, gcSec, run1,
        spread, samples.size, otherCpu, suspect)
    }
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    val runOtherCpu = r3(HostCpu.otherShare(runStart, HostCpu.sample()))
    val qs = results.map(r => "\"" + r.name + "\":" + r.med)
      .mkString("{", ",", "}")
    val detail = results.map { r =>
      val e = r3(r.run1 - r.build - r.plan)
      s""""${r.name}":{"build":${r3(r.build)},"plan":${r3(r.plan)},"exec":$e,"gc":${r3(r.gc)},""" +
        s""""cold":${r3(r.run1)},"med":${r3(math.abs(r.med))},"spread":${r3(r.spread)},""" +
        s""""samples":${r.n},"other_cpu_share":${r3(r.otherCpu)},""" +
        s""""contended":${r.otherCpu > ContendedShare},"suspect_load":${r.suspect}}"""
    }.mkString("{", ",", "}")
    val fl = failed.distinct.map("\"" + _ + "\"").mkString("[", ",", "]")
    // total_sec IS the median-sum and total_med_sec its explicit alias, so
    // a reader never has to consult this source to learn which statistic
    // the headline is; total_cold_sec (sum of each query's first run) is the
    // diagnostic twin: cold-vs-median divergence quantifies how much
    // plan/JIT the steady-state number excludes
    val total = r3(results.map(r => math.abs(r.med)).sum)
    val totalCold = r3(results.map(_.run1).sum)
    val suspects = results.filter(_.suspect).map("\"" + _.name + "\"")
      .mkString("[", ",", "]")
    // Two lines, detail first: a recorder that keeps only the tail of
    // stdout still gets the short, complete summary line. Only the summary
    // carries "metric":"total", so a consumer matching on the metric name
    // finds exactly one total per run.
    val note = "medians are standalone-cold (caches swept between samples) " +
      "EXCEPT session-persisted artifacts, ALL derived in an unrecorded " +
      "setup phase before sampling — no key's cold carries a one-time " +
      "derive; graph_edges_persist prices construction via its own " +
      "per-sample rewrite. contended = other processes used more than " +
      s"$ContendedShare of host CPU while the key's samples ran"
    val detailLine = s"""{"metric":"detail","note":"$note","setup_sec":${r3(setupSec)},"queries":$qs,"detail":$detail,"other_cpu_share":$runOtherCpu,"failed":$fl,"suspect_load":$suspects,"runs_per_query":3,"sf":"$sfDir","unit":"sec","total_sec":$total,"total_med_sec":$total,"total_cold_sec":$totalCold}"""
    println(detailLine)
    // both records are also written to files (stdout capture may truncate
    // the detail line or prefix it). Full-suite runs only: a subset run
    // would overwrite the record with a partial map.
    def persist(path: String, line: String): Unit =
      if (only.isEmpty) {
        try java.nio.file.Files.write(java.nio.file.Paths.get(path),
          (line + "\n").getBytes("UTF-8"))
        catch { case ex: Exception => System.err.println(
          s"[bench] could not persist to $path: ${ex.getMessage}") }
      } else System.err.println(s"[bench] subset run — $path left untouched")
    persist(sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json"),
      detailLine)
    val top5 = results.sortBy(r => -math.abs(r.med))
      .take(5).map(r => "\"" + r.name + "\":" + r3(math.abs(r.med)))
      .mkString("{", ",", "}")
    val summaryLine = s"""{"metric":"total","value":$total,"unit":"sec","total_med_sec":$total,"total_cold_sec":$totalCold,"n_queries":${results.size},"n_failed":${failed.distinct.size},"failed":$fl,"suspect_load":$suspects,"top5_sec":$top5,"runs_per_query":3,"other_cpu_share":$runOtherCpu,"sf":"$sfDir"}"""
    println(summaryLine)
    persist(sys.env.getOrElse("SPARK_GRAFT_BENCH_SUMMARY", "BENCH_SUMMARY.json"),
      summaryLine)
    spark.stop()
    // the summary is also the program's last stdout line: printed again
    // after spark.stop(), so no Spark shutdown output can land below it
    println(summaryLine)
  }
}
