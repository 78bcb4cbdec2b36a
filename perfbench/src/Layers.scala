package perfbench

import java.util.{Collections, IdentityHashMap}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.{DataWritingCommandExec, ExecutedCommandExec}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** What the listeners saw between two [[LayerListener.take]] calls. */
final class LayerCounts {
  val jobs = ArrayBuffer.empty[(Long, Long, Option[Long])] // start, end, SQL execution id
  val execs = ArrayBuffer.empty[(Long, Long, Long)]        // id, start, end
  val phases = ArrayBuffer.empty[(String, Long, Long)]     // catalyst phase, start, end
  var executions, stages, tasks = 0L
  var taskRunMs, taskCpuNs, shuffleWrite, shuffleRead, fetchWaitMs, spillBytes, outputBytes = 0L
  var inputRows, inputBytes, filesRead, readbackBytes = 0L
  var writeExecs, writeNs, filesWritten, cacheScans = 0L
}

/** Spark listener plus query-execution listener that attribute work to the
  * engine's layers. Every callback runs on Spark's listener-bus thread; the
  * benchmark drains the bus (off the clock) before each [[take]].
  *
  * Scans are classified by path: under `dataRoot` they are source reads of
  * the generated input, under `sinkRoot` they read back a sink's output.
  * An execution that writes anywhere but the `noop` sink is a sink write. */
final class LayerListener(dataRoot: String, sinkRoot: String)
    extends SparkListener with QueryExecutionListener {

  private var cur = new LayerCounts
  private val jobStarts = scala.collection.mutable.Map.empty[Int, (Long, Option[Long])]
  private val execStarts = scala.collection.mutable.Map.empty[Long, Long]
  // Plans and trackers already counted: a cached relation's plan or a
  // DataFrame's tracker can surface in several executions.
  private val seen = Collections.newSetFromMap(new IdentityHashMap[AnyRef, java.lang.Boolean]())
  private var writes = false // the execution being walked writes a sink

  def take(): LayerCounts = synchronized { val c = cur; cur = new LayerCounts; seen.clear(); c }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    jobStarts(e.jobId) = (e.time, exec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (s, exec) => cur.jobs += ((s, e.time, exec)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { cur.stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    cur.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cur.taskRunMs += m.executorRunTime
      cur.taskCpuNs += m.executorCpuTime
      cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      cur.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      cur.spillBytes += m.diskBytesSpilled
      cur.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => execStarts(s.executionId) = s.time
      case x: SparkListenerSQLExecutionEnd =>
        execStarts.remove(x.executionId).foreach(s => cur.execs += ((x.executionId, s, x.time)))
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    record(qe)
    val plan = try Some(qe.executedPlan) catch { case _: Throwable => None }
    plan.foreach { p =>
      writes = false
      walk(p)
      if (writes) {
        cur.writeExecs += 1
        cur.writeNs += durationNs
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized(record(qe))

  private def record(qe: QueryExecution): Unit = {
    cur.executions += 1
    if (seen.add(qe.tracker))
      qe.tracker.phases.foreach { case (name, p) =>
        if (name != "parsing") cur.phases += ((name, p.startTimeMs, p.endTimeMs))
      }
  }

  private def metric(p: SparkPlan, name: String): Long = p.metrics.get(name).map(_.value).getOrElse(0L)

  private def walk(p: SparkPlan): Unit = if (seen.add(p)) {
    p match {
      case s: FileSourceScanLike =>
        val paths = s.relation.location.rootPaths.map(_.toUri.getPath)
        if (paths.exists(_.startsWith(sinkRoot))) cur.readbackBytes += metric(p, "filesSize")
        else if (paths.exists(_.startsWith(dataRoot))) {
          cur.inputRows += metric(p, "numOutputRows")
          cur.inputBytes += metric(p, "filesSize")
          cur.filesRead += metric(p, "numFiles")
        }
      case w: DataWritingCommandExec =>
        writes = true
        cur.filesWritten += metric(w, "numFiles")
      case w: V2TableWriteExec => writes ||= !w.simpleString(25).contains("Noop")
      case c: ExecutedCommandExec => writes ||= c.cmd.nodeName.matches("(SaveInto|InsertInto|Create\\w*AsSelect).*")
      case i: InMemoryTableScanExec =>
        cur.cacheScans += 1
        walk(i.relation.cachedPlan)
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case c: CommandResultExec => walk(c.commandPhysicalPlan)
      case _ =>
    }
    p.children.foreach(walk)
    p.subqueries.foreach(walk)
  }
}
