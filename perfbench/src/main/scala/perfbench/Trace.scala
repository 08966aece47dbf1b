package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.command.CreateDataSourceTableAsSelectCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw trace records collected from OUTSIDE the engine: the Spark
  * listener bus (SQL executions, jobs, stages, tasks) and query
  * execution callbacks (planning phases, write paths). Records stay in
  * memory and are written out when the run ends; the Python side
  * turns them into the span hierarchy and self times.
  *
  * Every record is a flat map so it serializes as one JSON object. */
final class Trace(spark: SparkSession) {
  val records = new ConcurrentLinkedQueue[Map[String, Any]]()
  private def add(r: Map[String, Any]): Unit = { records.add(r); () }

  private var on = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      add(Map("kind" -> "job", "job" -> e.jobId, "start" -> e.time.toDouble,
        "exec" -> exec.map(_.toLong).getOrElse(-1L),
        "stages" -> e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      add(Map("kind" -> "job_end", "job" -> e.jobId, "end" -> e.time.toDouble))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val tm = si.taskMetrics
      add(Map("kind" -> "stage", "stage" -> si.stageId, "attempt" -> si.attemptNumber(),
        "start" -> si.submissionTime.getOrElse(0L).toDouble,
        "end" -> si.completionTime.getOrElse(0L).toDouble,
        "tasks" -> si.numTasks,
        "run_ms" -> tm.executorRunTime,
        "cpu_ns" -> tm.executorCpuTime,
        "gc_ms" -> tm.jvmGCTime,
        "deser_ms" -> tm.executorDeserializeTime,
        "shuffle_write" -> tm.shuffleWriteMetrics.bytesWritten,
        "shuffle_read" -> (tm.shuffleReadMetrics.remoteBytesRead +
          tm.shuffleReadMetrics.localBytesRead),
        "spill" -> (tm.memoryBytesSpilled + tm.diskBytesSpilled)))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      add(Map("kind" -> "task", "stage" -> e.stageId,
        "dur_ms" -> e.taskInfo.duration.toDouble))

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        add(Map("kind" -> "sql", "exec" -> s.executionId, "start" -> s.time.toDouble,
          "desc" -> s.description.take(80)))
      case s: SparkListenerSQLExecutionEnd =>
        add(Map("kind" -> "sql_end", "exec" -> s.executionId, "end" -> s.time.toDouble))
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe)
  }

  private def record(funcName: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.toSeq.map { case (name, p) =>
      Map("phase" -> name, "start" -> p.startTimeMs.toDouble, "end" -> p.endTimeMs.toDouble)
    }
    val path = scala.util.Try(writePath(qe.executedPlan)).toOption.flatten
    add(Map("kind" -> "qe", "exec" -> qe.id, "func" -> funcName,
      "path" -> path.getOrElse(""), "phases" -> phases))
  }

  private def writePath(root: SparkPlan): Option[String] = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: nodes(a.executedPlan)
      case q: QueryStageExec => p +: nodes(q.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    nodes(root).collectFirst {
      case d: DataWritingCommandExec => d.cmd match {
        case i: InsertIntoHadoopFsRelationCommand => Some(i.outputPath.toString)
        case c: CreateDataSourceTableAsSelectCommand =>
          c.table.storage.locationUri.map(_.toString)
        case _ => None
      }
    }.flatten
  }

  def enable(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  def disable(): Unit = if (on) {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    on = false
  }

  /** Wait (bounded) until every SQL execution and job seen so far has
    * its end record: the listener bus delivers asynchronously. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def open: Boolean = {
      val rs = records.asScala.toSeq
      val sqlOpen = rs.count(_("kind") == "sql") > rs.count(_("kind") == "sql_end")
      val jobOpen = rs.count(_("kind") == "job") > rs.count(_("kind") == "job_end")
      sqlOpen || jobOpen
    }
    while (open && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(50)   // query-execution callbacks trail the SQL end event
  }
}
