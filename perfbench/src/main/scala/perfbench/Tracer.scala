package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.ExecutedCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch nanoseconds, monotonic within the process. */
object Clock {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def nowNs: Long = baseEpochNs + (System.nanoTime() - baseNano)
}

/** A driver-side span: one call into a layer, timed from outside it. */
final class Span(val id: Int, val parent: Int, val name: String, val kind: String,
    val startNs: Long) {
  @volatile var endNs: Long = -1L
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty

  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent, "name" -> name,
    "kind" -> kind, "start_ns" -> startNs, "end_ns" -> endNs, "attrs" -> attrs)
}

/** Spans opened by the benchmark's main thread, plus the Spark jobs and SQL
  * executions that listeners attached from outside the engine report.
  * Everything stays in memory until [[dump]].
  *
  * Listeners are attached only while tracing is on, so untraced passes
  * in the same JVM pay nothing for them.
  */
final class Tracer(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]

  private val jobs = new ConcurrentHashMap[Int, mutable.LinkedHashMap[String, Any]]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val sqls = java.util.Collections.synchronizedList(
    new java.util.ArrayList[Map[String, Any]]())
  @volatile private var attached = false

  def open(name: String, kind: String): Span = {
    val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, kind,
      Clock.nowNs)
    spans += s
    stack.push(s)
    s
  }

  def close(s: Span): Unit = {
    s.endNs = Clock.nowNs
    while (stack.nonEmpty && (stack.pop() ne s)) ()
  }

  def span[A](name: String, kind: String)(body: Span => A): A = {
    val s = open(name, kind)
    try body(s) finally close(s)
  }

  private def addLong(m: mutable.Map[String, Any], k: String, v: Long): Unit =
    m(k) = m.getOrElse(k, 0L).asInstanceOf[Long] + v

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val rec = mutable.LinkedHashMap[String, Any]("job" -> e.jobId, "start_ms" -> e.time,
        "end_ms" -> -1L, "stages" -> 0L, "tasks" -> 0L, "task_ms" -> 0L, "cpu_ns" -> 0L,
        "gc_ms" -> 0L, "input_bytes" -> 0L, "input_rows" -> 0L, "output_bytes" -> 0L,
        "output_rows" -> 0L, "shuffle_read_bytes" -> 0L, "shuffle_write_bytes" -> 0L,
        "spill_bytes" -> 0L, "peak_mem_bytes" -> 0L, "failed" -> false)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(sid => stageJob.put(sid, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobs.get(e.jobId)).foreach { r =>
      r.synchronized {
        r("end_ms") = e.time
        r("failed") = !e.jobResult.isInstanceOf[JobSucceeded.type]
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).flatMap(j => Option(jobs.get(j))).foreach { r =>
        r.synchronized(addLong(r, "stages", 1L))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { r =>
        r.synchronized {
          addLong(r, "tasks", 1L)
          if (e.taskInfo != null) addLong(r, "task_ms", e.taskInfo.duration)
          val m = e.taskMetrics
          if (m != null) {
            addLong(r, "cpu_ns", m.executorCpuTime)
            addLong(r, "gc_ms", m.jvmGCTime)
            addLong(r, "input_bytes", m.inputMetrics.bytesRead)
            addLong(r, "input_rows", m.inputMetrics.recordsRead)
            addLong(r, "output_bytes", m.outputMetrics.bytesWritten)
            addLong(r, "output_rows", m.outputMetrics.recordsWritten)
            addLong(r, "shuffle_read_bytes",
              m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
            addLong(r, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
            addLong(r, "spill_bytes", m.diskBytesSpilled)
            r("peak_mem_bytes") =
              math.max(r("peak_mem_bytes").asInstanceOf[Long], m.peakExecutionMemory)
          }
        }
      }
  }

  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs, failed = false)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(funcName, qe, -1L, failed = true)
  }

  private def record(funcName: String, qe: QueryExecution, durationNs: Long,
      failed: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> Map("start_ms" -> p.startTimeMs, "end_ms" -> p.endTimeMs)
    }
    val (exchanges, joinRows) =
      scala.util.Try(Tracer.planFacts(qe.executedPlan)).getOrElse((0L, 0L))
    sqls.add(Map("func" -> funcName, "duration_ns" -> durationNs, "failed" -> failed,
      "phases" -> phases, "exchanges" -> exchanges, "join_rows" -> joinRows))
  }

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(sqlListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(sqlListener)
    attached = false
  }

  def dump(): Map[String, Any] = {
    detach()
    Map("spans" -> spans.map(_.toMap),
      "jobs" -> jobs.values.asScala.toSeq.sortBy(_("job").asInstanceOf[Int]),
      "sqls" -> sqls.asScala.toSeq)
  }
}

object Tracer {
  /** (Exchange nodes, join output rows) in the final physical plan,
    * descending into adaptive plans, query stages and subqueries.
    */
  def planFacts(root: SparkPlan): (Long, Long) = {
    var exchanges = 0L
    var joinRows = 0L
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => exchanges += 1
        case j: BaseJoinExec => joinRows += j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        case _ =>
      }
      val inner: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case _: ExecutedCommandExec => Nil
        case other => other.children ++ other.subqueries
      }
      inner.foreach(walk)
    }
    walk(root)
    (exchanges, joinRows)
  }
}
