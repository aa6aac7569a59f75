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

  /** The live physical table of `kind` in index `name`: specs read index
    * tables through the manifest resolver, never as `<name>_<kind>`. */
  def live(name: String, kind: String): String =
    graft.functions.index.liveTable(spark, name, kind)

  /** Tables and warehouse directories of index `name` that look like a
    * staged generation (`<name>_<kind>_g<epoch>_<seq>`) but are not
    * what its manifest points at — what a failed operation must never
    * leave behind. Read straight from the catalog, the warehouse and
    * the lease table's `graft.live.*` pointers. */
  def unflippedGenerations(name: String): Seq[String] = {
    val lower = name.toLowerCase
    val gen = (java.util.regex.Pattern.quote(lower) + "_[a-z]+_g\\d+_\\d+").r
    val cat = spark.sessionState.catalog
    val lease = org.apache.spark.sql.catalyst.TableIdentifier(s"${lower}_lease")
    val pointed =
      if (!cat.tableExists(lease)) Set.empty[String]
      else cat.getTableMetadata(lease).properties.collect {
        case (k, v) if k.startsWith("graft.live.") => v
      }.toSet
    val tables = cat.listTables(cat.getCurrentDatabase).map(_.table)
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val dirs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(wh).map(_.getPath.getName).toSeq
    (tables ++ dirs).distinct.filter(t => gen.matches(t) && !pointed(t))
  }

  /** RDDs pinned now. Cache-release audits diff against a baseline
    * taken at test start: the shared session may legitimately hold pins
    * from earlier suites (a `collectNow` handle, or `dedup.cached` frames
    * of plans PlanAuditSpec built and never ran). */
  def pinned: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** RDDs pinned since `baseline`, once the listener-driven releases
    * (`dedup.cached`'s) of the work so far have run. */
  def newPinned(baseline: Set[Int]): Set[Int] = { obs.drain(spark); pinned -- baseline }

  /** rows of the visible projection, as Seq of Seq (null-safe). */
  def rows(t: Table): Seq[Seq[Any]] =
    t.collect().toSeq.map(r => (0 until r.length).map(i => r.get(i)))
  def rowsDF(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => (0 until r.length).map(i => r.get(i)))

  def assertRows(t: Table, expected: Seq[Seq[Any]]): Unit =
    assert(rows(t) == expected)

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
