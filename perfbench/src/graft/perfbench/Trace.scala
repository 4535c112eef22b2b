package graft.perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Task-metric totals of the Spark jobs that ran inside one span (its own
  * jobs, not its children's). */
final class Totals {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def add(o: Totals): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
  }
}

/** One finished SQL execution: the action, its duration, where it wrote,
  * and the shape of its executed plan (after the action, so AQE's final
  * plan). */
final case class Query(
    func: String,
    seconds: Double,
    outputPath: Option[String],
    shuffles: Int,
    broadcasts: Int,
    rowsOut: Long
)

object Plans extends AdaptiveSparkPlanHelper {

  def query(func: String, qe: QueryExecution, durationNs: Long): Query = {
    val plan = qe.executedPlan
    val out = collectFirst(plan) { case d: DataWritingCommandExec => d.cmd }.collect {
      case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
    }
    Query(
      func,
      durationNs / 1e9,
      out,
      collectWithSubqueries(plan) { case e: ShuffleExchangeExec => e }.size,
      collectWithSubqueries(plan) { case e: BroadcastExchangeExec => e }.size,
      rowsOut(plan)
    )
  }

  /** Rows produced by the top-most operator that counts its output. */
  private def rowsOut(plan: SparkPlan): Long =
    find(plan)(_.metrics.contains("numOutputRows")).map(_.metrics("numOutputRows").value).getOrElse(0L)
}

/** Listens to Spark's own task metrics and finished SQL executions. What it
  * heard since the last call is handed over by [[take]], which first drains
  * the listener bus. Installed only for the traced run. */
final class Recorder(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private var totals = new Totals
  private val queries = mutable.ArrayBuffer.empty[Query]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { totals.jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      totals.tasks += 1
      totals.runMs += m.executorRunTime
      totals.cpuNs += m.executorCpuTime
      totals.gcMs += m.jvmGCTime
      totals.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      totals.spillBytes += m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val q = Plans.query(funcName, qe, durationNs)
    synchronized { queries += q }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(this)
  }

  def uninstall(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.unregister(this)
  }

  def take(): (Totals, Seq[Query]) = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    synchronized {
      val r = (totals, queries.toList)
      totals = new Totals
      queries.clear()
      r
    }
  }
}

/** A finished span: one call into a layer, timed from the benchmark's own
  * code. `parent` is the id of the enclosing span, -1 for a root. */
final case class Span(
    id: Int,
    name: String,
    parent: Int,
    runId: String,
    startNs: Long,
    endNs: Long,
    totals: Totals,
    queries: Seq[Query],
    counts: Map[String, Double]
) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans in memory, each with the listener totals and queries of
  * the Spark jobs that ran inside it. */
final class Tracer(recorder: Recorder, runId: String) {
  private final class Open(val id: Int, val name: String, val parent: Int, val startNs: Long) {
    val totals = new Totals
    val queries = mutable.ArrayBuffer.empty[Query]
    val counts = mutable.LinkedHashMap.empty[String, Double]
  }
  private val stack = mutable.Stack.empty[Open]
  private var nextId = 0
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty

  def span[T](name: String)(body: => T): T = {
    settle()
    val o = new Open(nextId, name, stack.headOption.map(_.id).getOrElse(-1), System.nanoTime())
    nextId += 1
    stack.push(o)
    try body
    finally {
      val end = System.nanoTime()
      settle()
      stack.pop()
      spans += Span(o.id, o.name, o.parent, runId, o.startNs, end, o.totals, o.queries.toList, o.counts.toMap)
    }
  }

  /** A count recorded at the boundary of the innermost open span. */
  def count(name: String, value: Double): Unit = stack.headOption.foreach(_.counts(name) = value)

  private def settle(): Unit = {
    val (t, qs) = recorder.take()
    stack.headOption.foreach { o => o.totals.add(t); o.queries ++= qs }
  }
}

object Tracer {
  /** A span's duration minus the part of it its children cover. */
  def selfSeconds(s: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sorted
    var covered = 0L
    var reach = s.startNs
    kids.foreach { case (a, b) =>
      val lo = math.max(a, reach)
      if (b > lo) { covered += b - lo; reach = b }
    }
    s.seconds - covered / 1e9
  }
}
