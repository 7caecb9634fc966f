package graft.perfbench

import java.util.concurrent.atomic.AtomicReference
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.util.QueryExecutionListener

/** Local properties the harness sets before each builder call, so the Spark
  * jobs a query starts can be tied back to it and to the phase it was in.
  */
object Props {
  val Query = "perfbench.query"
  val Phase = "perfbench.phase"
}

/** One timed interval. Times are epoch milliseconds (fractional for spans
  * the harness measures itself, whole for spans Spark's listener reports).
  */
final case class Span(id: Int, parent: Int, name: String, query: String,
    startMs: Double, endMs: Double)

/** In-memory span store; written out once, at the end of the run. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var next = 1
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  def ms(nanos: Long): Double = epoch0 + (nanos - nano0) / 1e6

  /** Reserves an id for a span that is recorded later with [[close]]. */
  def reserve(): Int = synchronized { val id = next; next += 1; id }

  def close(id: Int, parent: Int, name: String, query: String, startMs: Double,
      endMs: Double): Unit = synchronized {
    buf += Span(id, parent, name, query, startMs, endMs)
  }

  def add(parent: Int, name: String, query: String, startMs: Double,
      endMs: Double): Int = {
    val id = reserve()
    close(id, parent, name, query, startMs, endMs)
    id
  }

  /** Times `body` as a span named `name` under `parent`; the body receives
    * the new span's id so it can hang children under it.
    */
  def timed[T](parent: Int, name: String, query: String = "")(body: Int => T): T = {
    val id = reserve()
    val t0 = System.nanoTime()
    try body(id)
    finally close(id, parent, name, query, ms(t0), ms(System.nanoTime()))
  }

  def all: Seq[Span] = synchronized(buf.toSeq)
}

/** Counters summed over the tasks, stages and jobs one query started. */
final class Counters {
  val c: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, v: Double): Unit = c(k) = c.getOrElse(k, 0.0) + v
  def max(k: String, v: Double): Unit = c(k) = math.max(c.getOrElse(k, 0.0), v)
}

/** The traced run's Spark listener: job and stage spans plus task counters,
  * keyed by the query id the harness set as a local property.
  */
final class TraceListener extends SparkListener {
  private case class JobRec(query: String, phase: String, startMs: Long,
      stages: Set[Int], var endMs: Long = -1)
  private case class StageRec(stageId: Int, query: String, startMs: Long, endMs: Long)

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageQuery = mutable.Map.empty[Int, String]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val counters = mutable.Map.empty[String, Counters]

  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")

  private def of(query: String): Counters =
    counters.getOrElseUpdate(query, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val q = prop(e.properties, Props.Query)
    val phase = prop(e.properties, Props.Phase)
    jobs(e.jobId) = JobRec(q, phase, e.time, e.stageIds.toSet)
    e.stageIds.foreach(s => if (!stageQuery.contains(s)) stageQuery(s) = q)
    val k = of(q)
    k.add("jobs", 1)
    k.add(s"jobs.$phase", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val q = stageQuery.getOrElse(si.stageId, "")
    val k = of(q)
    k.add("stages", 1)
    if (si.attemptNumber() > 0) k.add("stage_retries", 1)
    for (s <- si.submissionTime; c <- si.completionTime)
      stages += StageRec(si.stageId, q, s, c)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val k = of(stageQuery.getOrElse(e.stageId, ""))
    k.add("tasks", 1)
    if (!e.taskInfo.successful) k.add("failed_tasks", 1)
    val info = e.taskInfo
    if (info.gettingResultTime > 0 && info.finishTime > info.gettingResultTime)
      k.add("getting_result_ms", (info.finishTime - info.gettingResultTime).toDouble)
    val m = e.taskMetrics
    if (m != null) {
      k.add("task_run_ms", m.executorRunTime.toDouble)
      k.add("task_cpu_ns", m.executorCpuTime.toDouble)
      k.add("deserialize_ms", m.executorDeserializeTime.toDouble)
      k.add("result_serialize_ms", m.resultSerializationTime.toDouble)
      k.add("gc_ms", m.jvmGCTime.toDouble)
      k.max("peak_task_mem_bytes", m.peakExecutionMemory.toDouble)
      k.add("spill_bytes", m.diskBytesSpilled.toDouble)
      k.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      k.add("input_records", m.inputMetrics.recordsRead.toDouble)
      val sr = m.shuffleReadMetrics
      k.add("shuffle_read_bytes", (sr.remoteBytesRead + sr.localBytesRead).toDouble)
      k.add("shuffle_records_read", sr.recordsRead.toDouble)
      k.add("shuffle_fetch_wait_ms", sr.fetchWaitTime.toDouble)
      k.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
    }
  }

  /** Counters of one query (empty when it started no Spark work). */
  def countersOf(query: String): Map[String, Double] = synchronized {
    counters.get(query).map(_.c.toMap).getOrElse(Map.empty)
  }

  /** Adds the job spans under the phase span of their query, and each
    * stage span under the job that first listed it.
    */
  def emitSpans(spans: Spans, phaseSpan: (String, String) => Option[Int]): Unit =
    synchronized {
      val jobSpan = mutable.Map.empty[Int, Int]
      jobs.toSeq.sortBy(_._1).foreach { case (jobId, j) =>
        phaseSpan(j.query, j.phase).foreach { parent =>
          val end = if (j.endMs >= 0) j.endMs else j.startMs
          val id = spans.add(parent, "job", j.query, j.startMs.toDouble, end.toDouble)
          j.stages.foreach(s => if (!jobSpan.contains(s)) jobSpan(s) = id)
        }
      }
      stages.foreach { s =>
        jobSpan.get(s.stageId).foreach { parent =>
          spans.add(parent, "stage", s.query, s.startMs.toDouble, s.endMs.toDouble)
        }
      }
    }
}

/** Captures the QueryExecution of the most recent successful file write,
  * whose executed plan is the one a Parquet sink really ran.
  */
final class WriteCapture extends QueryExecutionListener {
  val last = new AtomicReference[QueryExecution](null)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (qe.analyzed.exists(_.isInstanceOf[InsertIntoHadoopFsRelationCommand])) last.set(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Exact operator counts over an executed plan, entering adaptive plans,
  * query stages, cached relations and subqueries.
  */
object PlanWalk {
  def counts(root: SparkPlan): Map[String, Int] = {
    val n = mutable.LinkedHashMap(
      "exchanges" -> 0, "sorts" -> 0, "windows" -> 0, "broadcasts" -> 0,
      "scans" -> 0, "codegen_stages" -> 0)
    val seenCached = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
    def bump(k: String): Unit = n(k) += 1
    def visit(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case s: QueryStageExec => visit(s.plan)
        case _: ReusedExchangeExec => ()
        case m: InMemoryTableScanExec =>
          bump("scans")
          if (seenCached.add(m.relation.cacheBuilder)) visit(m.relation.cachedPlan)
        case other =>
          other match {
            case _: BroadcastExchangeLike => bump("exchanges"); bump("broadcasts")
            case _: ShuffleExchangeLike => bump("exchanges")
            case _: SortExec => bump("sorts")
            case _: WindowExecBase => bump("windows")
            case _: WholeStageCodegenExec => bump("codegen_stages")
            case l: LeafExecNode if l.getClass.getSimpleName.contains("Scan") => bump("scans")
            case _ => ()
          }
          other.children.foreach(visit)
      }
      p.subqueries.foreach(visit)
    }
    visit(root)
    n.toMap
  }
}
