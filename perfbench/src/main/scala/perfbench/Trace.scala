package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, V2WriteCommand}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.Internals
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval: a row sample (`row`) or one of its two layers
  * (`construct`, `exec`). Times are epoch microseconds. */
final case class Span(id: Long, kind: String, row: String, pass: Int, parent: Long,
    start: Long, end: Long)

/** What one Spark job did, summed over its tasks. */
final class JobRec(val span: Long, val start: Long, val source: Boolean) {
  @volatile var end: Long = start
  var stages, tasks = 0L
  var taskMs, gcMs, cpuNs, shuffleWrite, shuffleRead, spill, input = 0L
}

/** One executed query as the planner reported it. */
final case class QueryRec(time: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long, graftRulesNs: Long, write: Boolean, rename: Boolean,
    indexMeta: Boolean, outBytes: Long, outRows: Long)

/** The traced run's recorder. It only listens: spans are opened and
  * closed by the benchmark around its two calls into the engine, jobs are
  * tied to spans through the [[Tracer.SpanKey]] local property (which the
  * threads a call starts inherit), and executed queries (with their
  * planning tracker) and streaming progress, which reach one listener on
  * the shared bus from every session, are tied to row spans by time,
  * since a row's calls run one after another. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val ids = new AtomicLong()
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val queries = new java.util.concurrent.ConcurrentLinkedQueue[QueryRec]()
  val streamStarts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  val batches = new AtomicLong()
  val batchMs = new AtomicLong()
  val stateRows = new ConcurrentHashMap[java.util.UUID, Long]()

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case q: SparkListenerSQLExecutionEnd => onQuery(q)
      case s: StreamingQueryListener.Event => onStream(s)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toLong).getOrElse(-1L)
      val source = e.stageInfos.exists(s => SourceMarkers.exists(s.details.contains))
      jobs.put(e.jobId, new JobRec(span, e.time * 1000L, source))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time * 1000L)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      job(e.stageInfo.stageId).foreach(j => j.synchronized { j.stages += 1 })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- job(e.stageId); m <- Option(e.taskMetrics)) j.synchronized {
        j.tasks += 1
        j.taskMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        j.spill += m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
      }
  }
  private def job(stage: Int): Option[JobRec] =
    Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j)))

  private def onQuery(e: SparkListenerSQLExecutionEnd): Unit =
    Internals.queryExecution(e).foreach { qe =>
      val t = qe.tracker
      def ms(p: String) = t.phases.get(p).map(_.durationMs).getOrElse(0L)
      val graftNs = t.rules.collect { case (n, r) if n.startsWith("graft.") => r.totalTimeNs }.sum
      val root = qe.analyzed.getClass.getSimpleName
      val write = WriteCommands.exists(root.startsWith) && !noopSink(qe.analyzed)
      val metrics = qe.executedPlan.collect { case p => p.metrics }.flatMap(_.toSeq)
      def metric(k: String) = if (write) metrics.collect { case (`k`, m) => m.value }.sum else 0L
      queries.add(QueryRec(e.time * 1000L, ms("analysis"), ms("optimization"),
        ms("planning"), graftNs, write, root.startsWith("AlterTableRename"),
        IndexMetaCommands.exists(root.startsWith), metric("numOutputBytes"), metric("numOutputRows")))
    }

  private def onStream(e: StreamingQueryListener.Event): Unit = e match {
    case s: StreamingQueryListener.QueryStartedEvent =>
      streamStarts.add(java.time.Instant.parse(s.timestamp).toEpochMilli * 1000L)
    case p: StreamingQueryListener.QueryProgressEvent =>
      batches.incrementAndGet()
      batchMs.addAndGet(Option(p.progress.batchDuration).getOrElse(0L))
      stateRows.put(p.progress.runId, p.progress.stateOperators.map(_.numRowsTotal).sum)
    case _ =>
  }

  def attach(): Unit = spark.sparkContext.addSparkListener(listener)

  /** Detaches once every event posted so far has reached the listener. */
  def detach(): Unit = {
    Internals.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
  }

  /** Runs `body` inside a new span; jobs it submits carry the span's id. */
  def span[T](kind: String, row: String, pass: Int, parent: Long)(body: Long => T): T = {
    val id = ids.incrementAndGet()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    val start = nowMicros()
    sc.setLocalProperty(SpanKey, id.toString)
    try body(id)
    finally {
      sc.setLocalProperty(SpanKey, prev)
      val end = nowMicros()
      spans.synchronized { spans += Span(id, kind, row, pass, parent, start, end) }
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Call-site frames that mark a job as source resolution: jobs a reader
    * runs while it resolves a source (parquet footers for the schema,
    * parallel file listing) carry the reader's entry point as call site. */
  val SourceMarkers: Seq[String] = Seq("DataFrameReader.", "DataStreamReader.")

  /** Root plan nodes that commit files or a table. A `saveAsTable` shows
    * up three times (the save, the create-as-select, the insert); only the
    * insert, which commits, is counted. */
  val WriteCommands: Seq[String] = Seq("InsertIntoHadoopFsRelationCommand",
    "InsertIntoDataSourceCommand", "AppendData", "OverwriteByExpression",
    "OverwritePartitionsDynamic", "ReplaceData", "WriteDelta")

  /** Reads and stamps of table properties, which only the engine's
    * persistent-index layer issues (build parameters, leases). */
  val IndexMetaCommands: Seq[String] = Seq("ShowTableProperties", "AlterTableSetProperties")

  /** The benchmark's own exec sink, which writes nothing. */
  def noopSink(plan: LogicalPlan): Boolean = plan match {
    case w: V2WriteCommand => w.table match {
      case r: DataSourceV2Relation => r.table.name.toLowerCase.contains("noop")
      case _ => false
    }
    case _ => false
  }

  private val epoch0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  /** Epoch microseconds with nanoTime's resolution. */
  def nowMicros(): Long = epoch0 + (System.nanoTime() - nano0) / 1000L

  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def codegenNanos: Long = CodeGenerator.compileTime
  def filesDiscovered: Long = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
  def fileCacheHits: Long = HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount
  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}
