package perfbench

import java.nio.file.Files
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val state = Files.createTempDirectory("perfbench-tracer").resolve("state")
  private lazy val spark: SparkSession = Session.build(2, state)

  override def afterAll(): Unit = {
    spark.stop()
    DataGen.deleteTree(state.getParent)
  }

  private def slowJob(s: SparkSession, ms: Long): Unit = {
    s.sparkContext.parallelize(1 to 2, 2).foreach(_ => Thread.sleep(ms))
  }

  test("jobs run on pool threads started inside a span are attributed to it, and " +
    "self time counts their concurrent intervals once") {
    val t = new Tracer(spark)
    t.attach()
    val id = t.span("construct", "r", 0, 0L) { sid =>
      // the engine's inParallel: a fresh pool per call, so its threads
      // inherit the span's local property when they start
      val pool = Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try Await.result(Future.sequence(Seq(Future(slowJob(spark, 300)), Future(slowJob(spark, 300)))),
        Duration.Inf)
      finally pool.shutdown()
      Thread.sleep(200)
      sid
    }
    slowJob(spark, 10) // outside any span
    t.detach()
    val span = t.spans.find(_.kind == "construct").get
    assert(span.id == id)
    val jobs = t.jobs.asScala.values.toSeq
    val mine = jobs.filter(_.span == span.id)
    assert(mine.size == 2)
    assert(jobs.count(_.span == -1L) == 1)
    val intervals = mine.map(j => (j.start, j.end))
    val summed = intervals.map { case (s, e) => e - s }.sum
    val union = Stats.covered(span.start, span.end, intervals)
    assert(union < summed, "the two jobs ran concurrently, so their union is shorter than their sum")
    val self = Stats.selfTime(span.start, span.end, intervals)
    assert(self == (span.end - span.start) - union)
    assert(self >= 150000L, s"the span's own 200 ms sleep is self time, got $self us")
    assert(mine.forall(_.tasks == 2))
  }
}
