package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{GoldenGen, SparkEntry}

/** Runs one workload of the repository benchmark in this JVM and writes a
  * raw JSON record; `perfbench/run.py` turns that record into metrics.
  *
  * {{{
  *   Harness run <spec.json> <record.json>    # timed run (spec from run.py)
  *   Harness pin <fixtures> <keys> <work dir> <out.json>  # (rows, sha256) per key
  * }}}
  *
  * A run is: `setups` session set-ups (only the last session is kept), one
  * first pass over the keys, one warm-up pass, then steady passes until
  * `seconds` have been measured and at least [[MinSteadyPasses]] have run.
  * Every execution's row count is checked. The warm-up pass is not
  * counted: the JIT is still compiling the builders' code after the first
  * pass. It hosts the untimed checks that no counted pass should pay for:
  * the live-heap probe's full collections and each result's fingerprint.
  * In a traced run every other steady pass is traced (listeners,
  * plan walk, spans), so the traced and untraced passes of one run give the
  * tracing overhead; the seed decides which kind comes first.
  */
object Harness {
  /** A fixed floor, so the number of steady passes does not change with
    * host speed, and a traced run has a traced and an untraced one.
    */
  private val MinSteadyPasses = 2

  private val mapper = new ObjectMapper()
  private type Obj = java.util.LinkedHashMap[String, AnyRef]

  private def obj(kv: (String, Any)*): Obj = {
    val m = new Obj
    kv.foreach { case (k, v) => m.put(k, toJava(v)) }
    m
  }
  private def toJava(v: Any): AnyRef = v match {
    case null => null
    case m: Obj => m
    case m: collection.Map[_, _] =>
      val o = new Obj
      m.foreach { case (k, x) => o.put(k.toString, toJava(x)) }
      o
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case d: Double => java.lang.Double.valueOf(d)
    case i: Int => java.lang.Integer.valueOf(i)
    case l: Long => java.lang.Long.valueOf(l)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case x: AnyRef => x
  }

  final case class Pin(rows: Long, hash: Option[String])

  final case class Spec(fixtures: String, keys: Seq[String],
      sink: String, artifacts: Boolean, seed: Long, seconds: Double,
      trace: Boolean, workDir: File, cores: Int, setups: Int, pins: Map[String, Pin])

  private def readSpec(path: String): Spec = {
    val j = mapper.readTree(new File(path))
    val pins = j.get("pins").properties().asScala.map { e =>
      val p = e.getValue
      e.getKey -> Pin(p.get("rows").asLong(),
        Option(p.get("hash")).filterNot(_.isNull).map(_.asText()))
    }.toMap
    Spec(j.get("fixtures").asText(), j.get("keys").elements().asScala.map(_.asText()).toSeq,
      j.get("sink").asText(), j.get("artifacts").asBoolean(),
      j.get("seed").asLong(), j.get("seconds").asDouble(),
      j.get("trace").asBoolean(), new File(j.get("work_dir").asText()),
      j.get("cores").asInt(), j.get("setups").asInt(), pins)
  }

  def main(args: Array[String]): Unit = {
    val code = args.headOption match {
      case Some("run") if args.length == 3 => run(readSpec(args(1)), new File(args(2)))
      case Some("pin") if args.length == 5 =>
        pin(args(1), args(2).split(",").toSeq, new File(args(3)), new File(args(4)))
      case _ =>
        System.err.println("usage: Harness run <spec.json> <record.json> | " +
          "Harness pin <fixtures> <key,key,...> <work dir> <out.json>")
        2
    }
    sys.exit(code)
  }

  // ---- sessions ---------------------------------------------------------

  private def session(dir: File, cores: Int): SparkSession = {
    Seq("warehouse", "local", "checkpoint", "out").foreach(d => new File(dir, d).mkdirs())
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(dir, "local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(new File(dir, "checkpoint").getAbsolutePath)
    spark
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Frees every block a query left behind, so the next one starts cold. */
  private def sweepAll(spark: SparkSession): Unit = {
    graft.api.Caches.sweep(spark)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def nowS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  // ---- JVM and host probes ---------------------------------------------

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def processCpuS: Double = osBean.getProcessCpuTime / 1e9

  private def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def jitS: Double =
    Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime / 1e3)
      .getOrElse(0.0)

  private def codeCacheMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.contains("CodeHeap")).map(_.getUsage.getUsed / 1e6).sum

  /** Host-wide (busy, total) CPU seconds from /proc/stat, or None off Linux. */
  private def hostCpu: Option[(Double, Double)] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val line = try src.getLines().next() finally src.close()
    val f = line.split("\\s+").drop(1).map(_.toDouble)
    val idle = f(3) + (if (f.length > 4) f(4) else 0.0)
    val total = f.take(8).sum
    Some(((total - idle) / 100.0, total / 100.0))
  } catch { case NonFatal(_) => None }

  /** Counters of JVM-wide sources, read at pass boundaries. */
  private def jvmCounters: Map[String, Double] = Map(
    "codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "codegen_compile_s" -> CodeGenerator.compileTime / 1e9,
    "files_listed" -> HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount.toDouble,
    "jit_s" -> jitS,
    "gc_s" -> gcS,
    "cpu_s" -> processCpuS)

  /** Heap still occupied after a full collection, from the heap pools'
    * collection usage: the data a query holds at that moment.
    */
  private def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6
  }

  // ---- one query ---------------------------------------------------------

  private final class Tracing(spark: SparkSession) {
    val listener = new TraceListener
    val writes = new WriteCapture
    /** (query id, phase) -> span id, for hanging job spans under phases. */
    val phaseSpans = mutable.Map.empty[(String, String), Int]
    def on(): Unit = {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(writes)
    }
    def off(): Unit = {
      PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(writes)
    }
  }

  /** Output rows and bytes of a Parquet sink, read from the file footers. */
  private def parquetOutput(spark: SparkSession, dir: File): (Long, Long, Int) = {
    val files = Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.endsWith(".parquet"))
    val conf = spark.sparkContext.hadoopConfiguration
    val rows = files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toURI), conf))
      try r.getRecordCount finally r.close()
    }.sum
    (rows, files.map(_.length).sum, files.length)
  }

  private def runQuery(spark: SparkSession, spec: Spec, key: String, pass: Int,
      passSpan: Int, spans: Spans, tracing: Option[Tracing], outDir: File,
      checks: Boolean): Obj = {
    val sc = spark.sparkContext
    val qid = s"$pass:$key"
    val rec = new Obj
    rec.put("key", key)
    sc.setLocalProperty(Props.Query, qid)
    val traced = tracing.isDefined
    tracing.foreach(_.writes.last.set(null))
    val qSpanId = if (traced) spans.reserve() else 0
    // one phase of the query: tags the Spark jobs it starts, and is a span
    // of its own when traced
    def sub[T](name: String)(body: => T): (T, Double) = {
      sc.setLocalProperty(Props.Phase, name)
      val t0 = System.nanoTime()
      val out = if (traced) spans.timed(qSpanId, name, qid) { id =>
        tracing.get.phaseSpans((qid, name)) = id
        body
      } else body
      (out, nowS(t0))
    }
    val q0 = spans.ms(System.nanoTime())
    var q1 = Double.NaN // latency ends with the sink; the checks below are untimed
    val pin = spec.pins(key)
    var rows = -1L
    var error: String = null
    var buildS, planS, sinkS = 0.0
    try {
      val (df, b) = sub("ops.build")(SparkEntry.queries(key)(spark, spec.fixtures))
      buildS = b
      if (traced) {
        rec.put("persisted_rdds", Int.box(sc.getPersistentRDDs.size))
        rec.put("persisted_mb", Double.box(
          sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6))
      }
      val (plan, p) = sub("plan")(df.queryExecution.executedPlan)
      planS = p
      val target = new File(outDir, key)
      val (n, s) = sub("exec") {
        if (spec.sink == "parquet") { df.write.parquet(target.getAbsolutePath); -1L }
        else df.queryExecution.toRdd.count()
      }
      q1 = spans.ms(System.nanoTime())
      sinkS = s
      rows = n
      if (spec.sink == "parquet") {
        val (r, bytes, files) = parquetOutput(spark, target)
        rows = r
        rec.put("output_mb", Double.box(bytes / 1e6))
        rec.put("output_files", Int.box(files))
      }
      if (traced) {
        val phases = df.queryExecution.tracker.phases
        rec.put("planning", toJava(phases.map { case (k, v) => k -> v.durationMs / 1e3 }))
        val walked = if (spec.sink == "parquet") {
          val deadline = System.nanoTime() + 10L * 1000000000L
          while (tracing.get.writes.last.get == null && System.nanoTime() < deadline)
            Thread.sleep(1)
          Option(tracing.get.writes.last.get).map(_.executedPlan).getOrElse(plan)
        } else df.queryExecution.executedPlan
        rec.put("plan_counts", toJava(PlanWalk.counts(walked)))
      }
      if (checks) {
        // a full collection while the query's data is still held, then the
        // result's fingerprint: a Parquet report is read back
        rec.put("live_heap_mb", Double.box(liveHeapMb()))
        val result = if (spec.sink == "parquet") spark.read.parquet(target.getAbsolutePath) else df
        val (fn, fh) = GoldenGen.fingerprint(result)
        if (fn != pin.rows || pin.hash.exists(_ != fh))
          error = s"fingerprint ($fn, $fh), pinned (${pin.rows}, ${pin.hash.getOrElse("rows only")})"
      }
    } catch {
      case NonFatal(e) => error = s"${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    if (q1.isNaN) q1 = spans.ms(System.nanoTime())
    val (_, sweepS) = sub("caches.sweep")(sweepAll(spark))
    sc.setLocalProperty(Props.Query, null)
    sc.setLocalProperty(Props.Phase, null)
    if (traced) spans.close(qSpanId, passSpan, "query", qid, q0, spans.ms(System.nanoTime()))
    val ok = error == null && rows == pin.rows
    if (error == null && !ok) error = s"row count $rows, pinned ${pin.rows}"
    rec.put("ok", Boolean.box(ok))
    rec.put("error", error)
    rec.put("rows", Long.box(rows))
    rec.put("build_s", Double.box(buildS))
    rec.put("plan_s", Double.box(planS))
    rec.put("sink_s", Double.box(sinkS))
    rec.put("latency_s", Double.box((q1 - q0) / 1e3))
    rec.put("sweep_s", Double.box(sweepS))
    rec
  }

  // ---- the run -----------------------------------------------------------

  private def run(spec: Spec, recordFile: File): Int = {
    val unknown = spec.keys.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[perfbench] keys not in SparkEntry.queries: ${unknown.mkString(", ")}")
      return 3
    }
    val spans = new Spans
    val runSpan = spans.reserve()
    val runStart = System.nanoTime()
    val record = new Obj

    // set-up, several times (the first also pays JVM start-up); each
    // session gets fresh directories, so session artifacts are derived
    // again every time
    val setups = mutable.ArrayBuffer.empty[Obj]
    var spark: SparkSession = null
    for (i <- 1 to spec.setups) {
      if (spark != null) stop(spark)
      val dir = new File(spec.workDir, s"session$i")
      val t0 = System.nanoTime()
      val s = mutable.LinkedHashMap.empty[String, Double]
      spans.timed(runSpan, "setup") { setupSpan =>
        spark = spans.timed(setupSpan, "setup.session")(_ => session(dir, spec.cores))
        s("session_s") = nowS(t0)
        spans.timed(setupSpan, "setup.warmup") { _ =>
          spark.read.parquet(s"${spec.fixtures}/region.parquet")
            .groupBy("r_regionkey").count()
            .write.parquet(new File(dir, "out/warmup").getAbsolutePath)
        }
        if (spec.artifacts) {
          // the co-order edge artifact the graph keys read, derived through
          // the accessor Graphs.deriveSessionArtifacts calls first
          val g = System.nanoTime()
          spans.timed(setupSpan, "artifacts.graphs")(_ =>
            graft.ops.Graphs.coOrderArtifact(spark, spec.fixtures))
          s("artifacts_graphs_s") = nowS(g)
        }
        spans.timed(setupSpan, "caches.sweep")(_ => sweepAll(spark))
      }
      s("setup_s") = nowS(t0)
      System.err.println(s"[perfbench] setup $i: " +
        s.map { case (k, v) => f"$k=$v%.2f" }.mkString(" "))
      setups += toJava(s).asInstanceOf[Obj]
    }
    record.put("setups", toJava(setups))
    val outRoot = new File(spec.workDir, s"session${spec.setups}/out")

    val cpu0 = hostCpu
    val proc0 = processCpuS
    val wall0 = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[Obj]
    var steadyS = 0.0
    var pass = 0
    val tracing = if (spec.trace) Some(new Tracing(spark)) else None
    def steadyCount = passes.count(_.get("kind") == "steady")
    while (pass < 2 || steadyS < spec.seconds || steadyCount < MinSteadyPasses) {
      val kind = pass match { case 0 => "first" case 1 => "warmup" case _ => "steady" }
      val rng = new scala.util.Random(spec.seed * 1000003L + pass)
      val order = rng.shuffle(spec.keys)
      // in a traced run, steady passes alternate between traced and
      // untraced, starting with a traced one on even seeds
      val traced = tracing.filter(_ => kind == "steady" && Math.floorMod(pass + spec.seed, 2L) == 0L)
      traced.foreach(_.on())
      val j0 = jvmCounters
      val passOut = new File(outRoot, s"pass$pass")
      val queries = spans.timed(runSpan, "pass") { passSpan =>
        order.map(k => runQuery(spark, spec, k, pass, passSpan, spans, traced, passOut,
          checks = kind == "warmup"))
      }
      traced.foreach(_.off())
      val j1 = jvmCounters
      val timed = queries.map(q =>
        q.get("latency_s").asInstanceOf[Double] + q.get("sweep_s").asInstanceOf[Double]).sum
      val p = obj(
        "index" -> pass, "kind" -> kind,
        "traced" -> traced.isDefined, "timed_s" -> timed,
        "jvm" -> j1.map { case (k, v) => k -> (v - j0(k)) },
        "codecache_mb" -> codeCacheMb,
        "queries" -> queries)
      passes += p
      val tag = if (traced.isDefined) ", traced" else ""
      System.err.println(f"[perfbench] pass $pass (${p.get("kind")}$tag): $timed%.2f s; " +
        queries.map(q => f"${q.get("key")}=${q.get("latency_s").asInstanceOf[Double]}%.2f")
          .mkString(" "))
      if (kind == "steady") steadyS += timed
      deleteTree(passOut)
      pass += 1
    }
    val timedWall = nowS(wall0)
    val procCpu = processCpuS - proc0
    val host = for ((b0, t0) <- cpu0; (b1, t1) <- hostCpu) yield {
      val total = t1 - t0
      obj("other_cpu_share" -> (if (total > 0) math.max(0.0, (b1 - b0 - procCpu) / total) else 0.0),
        "host_cpu_s" -> total)
    }
    record.put("passes", toJava(passes))
    record.put("host", host.getOrElse(obj()))
    record.put("proc_core_util", Double.box(procCpu / (timedWall * spec.cores)))

    tracing.foreach { t =>
      t.listener.emitSpans(spans, (q, ph) => t.phaseSpans.get((q, ph)))
      val counters = passes.filter(_.get("traced") == true).flatMap { p =>
        p.get("queries").asInstanceOf[java.util.List[Obj]].asScala.map { q =>
          s"${p.get("index")}:${q.get("key")}" -> t.listener.countersOf(s"${p.get("index")}:${q.get("key")}")
        }
      }.toMap
      record.put("counters", toJava(counters))
    }
    spans.close(runSpan, 0, "run", "", spans.ms(runStart), spans.ms(System.nanoTime()))
    if (spec.trace) record.put("spans", toJava(spans.all.map(s =>
      obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "query" -> s.query,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs))))
    stop(spark)
    mapper.writeValue(recordFile, record)
    0
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Fingerprints each key once, for the pinned-results file. */
  private def pin(fixtures: String, keys: Seq[String], workDir: File, out: File): Int = {
    val unknown = keys.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[perfbench] keys not in SparkEntry.queries: ${unknown.mkString(", ")}")
      return 3
    }
    workDir.mkdirs()
    val dir = java.nio.file.Files.createTempDirectory(workDir.toPath, "pin").toFile
    // keys derive the session artifacts they read on first use
    val spark = session(dir, Runtime.getRuntime.availableProcessors())
    val m = new Obj
    keys.sorted.foreach { k =>
      val (n, h) = GoldenGen.fingerprint(SparkEntry.queries(k)(spark, fixtures))
      sweepAll(spark)
      System.err.println(s"[perfbench] pinned $k rows=$n $h")
      m.put(k, obj("rows" -> n,
        "hash" -> (if (GoldenGen.mergeOrderSensitive(k)) null else h)))
    }
    stop(spark)
    deleteTree(dir)
    mapper.writerWithDefaultPrettyPrinter().writeValue(out, m)
    0
  }
}
