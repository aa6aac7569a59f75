package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins prose that has drifted before to the code it describes (the
  * README's "driver contract: N queries" line must equal the actual
  * registry size — rounds 8 and 9 each caught a stale count by review),
  * and the registry's own invariants: one spec per name, and a real
  * oracle on every spec. */
class ReadmeContractSpec extends AnyFunSuite {

  private def readme: String = {
    val p = java.nio.file.Paths.get("README.md")
    assert(java.nio.file.Files.exists(p), s"README.md not found in ${
      java.nio.file.Paths.get("").toAbsolutePath}")
    new String(java.nio.file.Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8)
  }

  test("README driver-contract query count equals the registry size") {
    val m = "driver contract: (\\d+) queries".r.findFirstMatchIn(readme)
    assert(m.isDefined, "README.md lost its 'driver contract: N queries' line")
    assert(m.get.group(1).toInt === SparkEntry.specs.size,
      s"README claims ${m.get.group(1)} queries but the registry has " +
        s"${SparkEntry.specs.size} — update README.md")
  }

  test("every registry name is declared once") {
    // the derived name-keyed maps would silently keep only the last
    // of two specs with the same name
    val dup = SparkEntry.specs.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(dup.isEmpty, s"names declared more than once: ${dup.toSeq.sorted}")
  }

  test("every spec carries oracle SQL") {
    // a null oracle means the registry list reads an oracle val
    // declared below it (object initialization order)
    val missing = SparkEntry.specs.filter(q => q.oracle == null || q.oracle.trim.isEmpty)
    assert(missing.isEmpty, s"specs without oracle SQL: ${missing.map(_.name)}")
  }

  test("select returns the named specs in order and rejects unknown names") {
    assert(SparkEntry.select(Nil) == SparkEntry.specs)
    assert(SparkEntry.select(Seq("x36_bm25_topk", "q01_summarize_flagship")).map(_.name) ==
      Seq("x36_bm25_topk", "q01_summarize_flagship"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("q01_summarize_flagship", "typo_a", "typo_b")))
    assert(e.getMessage.contains("typo_a, typo_b"), e.getMessage)
  }
}
