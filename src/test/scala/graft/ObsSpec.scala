package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{functions => F}

/** The span probe counts its span's work, wherever that work runs, and
  * nothing else; and it stays the only listener the specs use. */
class ObsSpec extends SparkSpec {

  test("a job another thread runs during the span is not counted") {
    val sc = spark.sparkContext
    val go, done = new CountDownLatch(1)
    val other = new Thread(() => {
      go.await()
      sc.parallelize(1 to 8, 4).count()
      done.countDown()
    })
    other.start()
    val (_, ran) = obs.during(spark) {
      go.countDown()
      assert(done.await(60, TimeUnit.SECONDS))
      sc.parallelize(1 to 4, 2).count()
    }
    other.join()
    assert(ran.jobs == 1 && ran.stageTasks == Seq(2) && ran.tasks == 2, ran)
  }

  test("jobs of the threads the span starts through index.inParallel are counted") {
    val sc = spark.sparkContext
    val (_, ran) = obs.during(spark)(graft.functions.index.inParallel(
      Seq.fill(3)(() => { sc.parallelize(1 to 3, 1).count(); () })))
    assert(ran.jobs == 3 && ran.stageTasks == Seq(1, 1, 1), ran)
  }

  test("a query run in a session clone has its executed plan captured") {
    val clone = SparkEntry.clonedSession(spark, SparkEntry.replayConf)
    val (n, ran) = obs.during(spark)(
      clone.range(0, 1234).groupBy((F.col("id") % 7).as("k")).count().count())
    assert(n == 7L)
    assert(ran.plans.exists(_.toString.contains("Range (0, 1234")),
      ran.plans.mkString("\n"))
  }

  test("shuffle records equal the rows a repartition moves") {
    val n = 5000L
    val (_, ran) = obs.during(spark)(spark.range(0, n).repartition(3)
      .write.format("noop").mode("overwrite").save())
    assert(ran.shuffleRecords == n, ran)
    assert(ran.shuffleBytes > 0L, ran)
  }

  test("listeners are registered only in graft.obs and dedup's release hook; no spec sleeps beside a listener read") {
    val root = java.nio.file.Paths.get("src")
    val files = java.nio.file.Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).map(p =>
        root.relativize(p).toString.replace('\\', '/') ->
          java.nio.file.Files.readAllLines(p).asScala.toIndexedSeq).toSeq
    def hits(file: String => Boolean)(line: (IndexedSeq[String], Int) => Boolean) =
      for ((f, ls) <- files if file(f); i <- ls.indices if line(ls, i)) yield s"$f:${i + 1}"
    val register = """\.addSparkListener\(|listenerManager\.register\(""".r
    val strays = hits(f => !f.contains("graft/obs/") && !f.endsWith("functions/dedup.scala"))(
      (ls, i) => register.findFirstIn(ls(i)).isDefined)
    assert(strays.isEmpty, s"listener registered outside graft.obs: $strays")
    // a sleep within a few lines of a listener-fed read is a wait for
    // the bus: drain it with obs.during or obs.drain instead
    val sleep = """Thread\.sleep\(""".r
    val read = """SparkListener|QueryExecutionListener|statusTracker|getPersistentRDDs|listenerBus""".r
    val sleepers = hits(_.startsWith("test/"))((ls, i) => sleep.findFirstIn(ls(i)).isDefined &&
      ls.slice(i - 10, i + 11).exists(read.findFirstIn(_).isDefined))
    assert(sleepers.isEmpty, s"sleep beside a listener read: $sleepers")
  }
}
