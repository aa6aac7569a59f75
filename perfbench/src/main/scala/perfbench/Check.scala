package perfbench

import org.json4s._

/** Compares a row's output fingerprint with its expected entry. Entries
  * carry a `check` label saying how far the row can be pinned:
  *   - `oracle`: the output matched the DuckDB oracle bit for bit when it
  *     was recorded; schema, row count and digest must all match;
  *   - `pinned`: a bench variant with no oracle, pinned to the output of
  *     the commit that defined the benchmark; same comparison;
  *   - `shape`: nondeterministic by design; schema and row count only. */
object Check {
  def verdict(expected: JValue, fp: Fingerprint): String = {
    def str(k: String) = expected \ k match { case JString(s) => Some(s); case _ => None }
    val rows = expected \ "rows" match { case JInt(i) => Some(i.toLong); case _ => None }
    str("check") match {
      case None => "unpinned"
      case Some(kind) =>
        val mismatches = Seq(
          Some("schema").filter(_ => !str("schema").contains(fp.schema)),
          Some(s"rows ${fp.rows} != ${rows.getOrElse("?")}").filter(_ => !rows.contains(fp.rows)),
          Some("digest").filter(_ =>
            (kind == "oracle" || kind == "pinned") && !str("digest").contains(fp.digest))
        ).flatten
        if (mismatches.isEmpty) s"ok $kind" else s"wrong $kind: ${mismatches.mkString(", ")}"
    }
  }

  def passed(verdict: String): Boolean = verdict.startsWith("ok ")

  /** The part of a verdict that groups rows in the summary line. */
  def label(verdict: String): String = verdict.takeWhile(_ != ':')
}
