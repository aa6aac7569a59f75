package perfbench

import java.nio.file.Paths

import org.json4s._
import org.scalatest.funsuite.AnyFunSuite

/** The workload file's row names must resolve in the engine, so a renamed
  * or removed row fails here instead of silently leaving its workload. */
class WorkloadsSpec extends AnyFunSuite {
  private val config = Json.read(Paths.get("workloads.json"))
  private val expected = Json.read(Paths.get("expected.json"))
  private val workloads = config \ "workloads" match {
    case JObject(fields) => fields
    case _ => Nil
  }

  test("the workload file lists the benchmark's workloads") {
    assert(workloads.map(_._1).nonEmpty)
    val bench = Json.read(Paths.get("..", "BENCHMARK.json"))
    val names = bench \ "workloads" match {
      case JArray(ws) => ws.map(w => (w \ "name").asInstanceOf[JString].s)
      case _ => Nil
    }
    assert(names.toSet == workloads.map(_._1).toSet)
  }

  private val lists = config \ "lists" match {
    case JObject(fields) => fields.map { case (k, v) => k -> Json.strings(v) }.toMap
    case _ => Map.empty[String, Seq[String]]
  }

  test("every row of the source lists resolves in SparkEntry.queries") {
    assert(lists.keySet == Set("verbs", "curation", "lifecycle", "streaming"))
    lists.values.foreach(rows => assert(Main.resolveRows(rows).map(_._1) == rows))
  }

  test("a workload takes every k-th row of its source lists, then its kept rows") {
    val cfg = JObject(
      "lists" -> JObject("a" -> JArray(List("a0", "a1", "a2", "a3", "a4").map(JString(_))),
        "b" -> JArray(List("b0", "b1").map(JString(_)))),
      "workloads" -> JObject("w" -> JObject(
        "take" -> JObject("a" -> JInt(2), "b" -> JInt(5)),
        "keep" -> JArray(List(JString("a3"), JString("a2"))))))
    assert(Json.workloadRows(cfg, "w") == Seq("a0", "a2", "a4", "b0", "a3"))
    assertThrows[IllegalArgumentException](Json.workloadRows(cfg, "nope"))
  }

  test("the census workload is every row of SparkEntry.queries") {
    assert(Json.workloadRows(config, "census").toSet == graft.SparkEntry.queries.keySet)
  }

  for ((name, wl) <- workloads) {
    test(s"every row of $name resolves in SparkEntry.queries and has an expected output") {
      val rows = Json.workloadRows(config, name)
      assert(rows.nonEmpty)
      assert(rows.distinct.size == rows.size, "a row is listed twice")
      assert(Main.resolveRows(rows).map(_._1) == rows)
      val keep = Json.strings(wl \ "keep")
      assert(keep.forall(k => lists.values.exists(_.contains(k))), "a kept row is in no source list")
      val unpinned = rows.filter(r => (expected \ r \ "check") == JNothing)
      assert(unpinned.isEmpty, s"rows without an expected output: $unpinned")
      val writes = Json.strings(wl \ "write_rows")
      val probes = Json.strings(wl \ "probe_rows")
      assert((writes ++ probes).forall(rows.contains), "a write or probe row is not in the workload")
      assert(writes.intersect(probes).isEmpty, "a row is both a write and a probe row")
    }
  }

  test("an unknown row name fails instead of dropping out") {
    assertThrows[IllegalArgumentException](Main.resolveRows(Seq("q01_summarize_flagship", "no_such_row")))
  }
}
