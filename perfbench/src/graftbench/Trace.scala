package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` links a span to the span that caused it
  * (0 for an operation); all spans of one operation share `op`. Times are
  * epoch milliseconds with microsecond fraction for driver spans, whole
  * milliseconds for Spark's job and stage events. */
final case class Span(id: Long, parent: Long, op: Long, name: String, layer: String,
    start: Double, end: Double, attrs: Map[String, Any] = Map.empty)

/** Per-span Spark work, summed over the jobs tagged with the span. */
final class Work {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, inputBytes, shuffleWriteBytes, spillBytes = 0L
  var peakExecMem = 0L
}

/** The benchmark's tracer: spans around its own calls into the engine, plus a
  * SparkListener and a QueryExecutionListener that attribute every job,
  * stage and task, and Spark's own analysis/optimization/planning phases,
  * to the benchmark span that launched them. Jobs carry the span id in the
  * `graftbench.span` local property. Spans are kept while `enabled`; the
  * listeners are only registered with Spark for traced passes.
  */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  @volatile var enabled = false
  private val SpanProp = "graftbench.span"
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  private var nextId = 0L
  private var opId = 0L
  val spans = mutable.ArrayBuffer.empty[Span]
  private val work = mutable.HashMap.empty[Long, Work]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val jobSpan = mutable.HashMap.empty[Int, Long]
  private val jobStartMs = mutable.HashMap.empty[Int, Long]
  private val spanOp = mutable.HashMap.empty[Long, Long]
  private val phases = new java.util.WeakHashMap[QueryExecution, java.lang.Long]

  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private def newId(): Long = synchronized { nextId += 1; nextId }

  /** Runs `body` as a span; Spark jobs it launches are tagged with it. */
  def span[T](name: String, layer: String, parent: Long)(body: Long => T): T = {
    val id = newId()
    if (parent == 0) opId = id
    synchronized(spanOp(id) = opId)
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, id.toString)
    val s = nowMs
    try body(id)
    finally {
      val e = nowMs
      sc.setLocalProperty(SpanProp, prev)
      if (enabled) synchronized { spans += Span(id, parent, spanOp(id), name, layer, s, e) }
    }
  }

  /** Waits for the listener bus, then returns the work tagged with `id`. */
  def workOf(id: Long): Work = {
    org.apache.spark.graft.ListenerBusDrain.drain(sc)
    synchronized(work.getOrElse(id, new Work))
  }

  private def tagOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong)

  private def w(id: Long) = work.getOrElseUpdate(id, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = tagOf(e.properties).foreach { id =>
    synchronized {
      w(id).jobs += 1
      jobSpan(e.jobId) = id
      jobStartMs(e.jobId) = e.time
      e.stageIds.foreach(stageSpan(_) = id)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { id =>
      val s = jobStartMs.remove(e.jobId).getOrElse(e.time)
      if (enabled) spans += Span(newId(), id, spanOp(id), s"job ${e.jobId}", "spark.job",
        s.toDouble, e.time.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stageSpan.get(i.stageId).foreach { id =>
      w(id).stages += 1
      if (enabled) for (s <- i.submissionTime; c <- i.completionTime)
        spans += Span(newId(), id, spanOp(id), s"stage ${i.stageId}", "spark.stage",
          s.toDouble, c.toDouble, Map("tasks" -> i.numTasks))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { id =>
      val m = e.taskMetrics
      val x = w(id)
      x.tasks += 1
      if (m != null) {
        x.runMs += m.executorRunTime
        x.cpuNs += m.executorCpuTime
        x.gcMs += m.jvmGCTime
        x.inputBytes += m.inputMetrics.bytesRead
        x.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        x.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        x.peakExecMem = x.peakExecMem max m.peakExecutionMemory
      }
    }
  }

  /** Spark's own analysis + optimization + planning time for `qe`, as its
    * QueryPlanningTracker recorded it, once the query has finished. */
  def sparkPhasesMs(qe: QueryExecution): Option[Long] = {
    org.apache.spark.graft.ListenerBusDrain.drain(sc)
    synchronized(Option(phases.get(qe)).map(_.longValue))
  }

  private def onQuery(qe: QueryExecution): Unit = synchronized {
    phases.put(qe, qe.tracker.phases.values.map(_.durationMs).sum)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = onQuery(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = onQuery(qe)
}

/** Counters read off an executed plan's SQL metrics. */
final case class PlanStats(dataFiles: Long, tombFiles: Long, tombRows: Long,
    broadcastBytes: Long)

object PlanStats {
  /** Walks the final adaptive plan (stages, subqueries) of `df` after it ran.
    * A scan whose root lies in a MoR tombstone sidecar (`_mor_deletes`)
    * counts as a tombstone scan, every other file scan as a data scan. */
  def of(df: DataFrame): PlanStats = {
    var dF, tF, tR, bB = 0L
    def m(p: SparkPlan, k: String) = p.metrics.get(k).map(_.value).getOrElse(0L)
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case s: FileSourceScanExec =>
          if (s.relation.location.rootPaths.exists(_.toString.contains("_mor_deletes"))) {
            tF += m(s, "numFiles"); tR += m(s, "numOutputRows")
          } else dF += m(s, "numFiles")
        case b: BroadcastExchangeExec => bB += m(b, "dataSize"); b.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    PlanStats(dF, tF, tR, bB)
  }
}
