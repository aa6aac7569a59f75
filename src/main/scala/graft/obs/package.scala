package graft

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbridge

/** The span probe: what a block of code ran on Spark. Frames are lazy,
  * so what a verb executed shows only on the listener bus; every job,
  * task and plan measurement of the specs and of `Explain -j` goes
  * through [[during]]. Diagnostic only: no query or index path calls it. */
package object obs {

  /** What a span ran. `stages`: the completed stages of its jobs (a
    * skipped stage never runs). Task counts, durations and records are
    * summed over those stages' finished tasks. `plans`: the executed
    * plan of every SQL execution started in the span, in any session. */
  final case class Ran(jobs: Int, stages: Seq[StageInfo], tasks: Int,
      taskMs: Long, shuffleRecords: Long, shuffleBytes: Long,
      inputRecords: Long, outputRecords: Long, plans: Seq[SparkPlan]) {
    def stageTasks: Seq[Int] = stages.map(_.numTasks)
  }

  private val spans = new java.util.concurrent.atomic.AtomicLong()

  /** Runs `body` and returns what it [[Ran]]. Its jobs carry a span job
    * tag, which the threads `body` starts inherit and SQL executions
    * record; other threads' work is not counted. Returns once the
    * listener bus has delivered every event `body` posted. */
  def during[A](spark: SparkSession)(body: => A): (A, Ran) = {
    val sc = spark.sparkContext
    val rec = new Recorder(s"graft-obs-span-${spans.incrementAndGet()}")
    sc.addSparkListener(rec)
    try {
      sc.addJobTag(rec.tag)
      val r = try body finally sc.removeJobTag(rec.tag)
      drain(spark)
      (r, rec.ran)
    } finally sc.removeSparkListener(rec)
  }

  /** Returns once every event posted so far has reached every listener,
    * each session's `QueryExecutionListener`s included. */
  def drain(spark: SparkSession): Unit =
    graftbridge.drainListenerBus(spark.sparkContext)

  private final class Recorder(val tag: String) extends SparkListener {
    private var jobs, tasks = 0
    private var taskMs, shuffleRecords, shuffleBytes, inputRecords,
      outputRecords = 0L
    private val stageIds = mutable.Set.empty[Int]
    private val stages = mutable.ArrayBuffer.empty[StageInfo]
    private val executions = mutable.Set.empty[Long]
    private val plans = mutable.ArrayBuffer.empty[SparkPlan]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (graftbridge.jobTags(e.properties)(tag)) {
        jobs += 1
        stageIds ++= e.stageIds
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { if (stageIds(e.stageInfo.stageId)) stages += e.stageInfo }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (stageIds(e.stageId)) {
        tasks += 1
        if (e.taskInfo != null) taskMs += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          shuffleRecords += m.shuffleWriteMetrics.recordsWritten
          shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          inputRecords += m.inputMetrics.recordsRead
          outputRecords += m.outputMetrics.recordsWritten
        }
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart if s.jobTags(tag) =>
          executions += s.executionId
        case s: SparkListenerSQLExecutionEnd if executions(s.executionId) =>
          graftbridge.executedQuery(s)
            .flatMap(q => scala.util.Try(q.executedPlan).toOption)
            .foreach(plans += _)
        case _ =>
      }
    }

    def ran: Ran = synchronized {
      Ran(jobs, stages.toSeq, tasks, taskMs, shuffleRecords, shuffleBytes,
        inputRecords, outputRecords, plans.toSeq)
    }
  }
}
