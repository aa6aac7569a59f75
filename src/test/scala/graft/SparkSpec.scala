package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.table.Table

/** Shared session per JVM (one per test run). */
object SparkSpec {
  lazy val session: SparkSession = {
    // Per-run warehouse + metastore so catalog tests are idempotent:
    // a managed table's directory must not outlive the Derby metastore
    // that knows about it (otherwise saveAsTable hits
    // LOCATION_ALREADY_EXISTS on the next JVM).
    val runDir = java.nio.file.Files.createTempDirectory("graft_test_")
    val s = SparkEntry.sessionBuilder(4)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=${runDir.resolve("metastore_db")};create=true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  def tbl(df: DataFrame, name: String = "t"): Table = Table.fromDF(df, name)

  /** rows of the visible projection, as Seq of Seq (null-safe). */
  def rows(t: Table): Seq[Seq[Any]] =
    t.collect().toSeq.map(r => (0 until r.length).map(i => r.get(i)))
  def rowsDF(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => (0 until r.length).map(i => r.get(i)))

  def assertRows(t: Table, expected: Seq[Seq[Any]]): Unit =
    assert(rows(t) == expected)

  /** What `body` ran on this thread: the jobs it started, and the task
    * count of each stage it submitted (skipped stages are never
    * submitted). */
  case class Ran(jobs: Int, stageTasks: Seq[Int])

  /** Runs `body` and returns what it [[Ran]]. A sentinel job submitted
    * after `body` marks the end: listener events arrive in order, so
    * once it is seen every earlier job and stage event has been too. */
  def ranDuring[A](body: => A): (A, Ran) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerStageSubmitted}
    val sc = spark.sparkContext
    val key = "graft.test.span"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    def span(p: java.util.Properties) = Option(p).map(_.getProperty(key))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        span(e.properties).foreach {
          case "body" => jobs.incrementAndGet()
          case "sentinel" => sentinel.countDown()
          case _ =>
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (span(e.properties).contains("body"))
          tasks.add(e.stageInfo.numTasks)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "body")
      val r = try body finally sc.setLocalProperty(key, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinel.await(60, java.util.concurrent.TimeUnit.SECONDS))
      import scala.jdk.CollectionConverters._
      (r, Ran(jobs.get, tasks.asScala.toSeq))
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  /** Run `body` while capturing ERROR-level log events from Spark's
    * codegen layer (Janino 64 KB overflows, compile failures). Codegen
    * is data-independent, so a small-fixture run through an operator
    * proves the generated code of the SAME plan shape compiles at any
    * scale. Returns (result, captured error lines). */
  def codegenErrorsDuring[A](body: => A): (A, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender(
        "graft-codegen-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if ((e.getLoggerName.contains("CodeGenerator") ||
             e.getLoggerName.contains("codegen") ||
             msg.contains("grows beyond 64 KB")) &&
            e.getLevel.isMoreSpecificThan(Level.ERROR))
          events.add(s"${e.getLevel} ${e.getLoggerName}: ${msg.take(300)}")
      }
    }
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    app.start()
    cfg.getRootLogger.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
    try {
      val r = body
      (r, { import scala.jdk.CollectionConverters._; events.asScala.toSeq })
    } finally {
      cfg.getRootLogger.removeAppender(app.getName)
      ctx.updateLoggers()
      app.stop()
    }
  }
}
