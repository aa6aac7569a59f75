package perfbench

import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

/** JSON in and out for the benchmark's config and results. */
object Json {
  private implicit val formats: Formats = DefaultFormats

  def read(p: java.nio.file.Path): JValue =
    JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))

  def write(v: AnyRef): String = Serialization.write(v)

  def strings(v: JValue): Seq[String] = v match {
    case JArray(xs) => xs.collect { case JString(s) => s }
    case _ => Nil
  }

  /** The rows workload `name` measures: every k-th row (`take`, list ->
    * k) of the source `lists`, then the `keep` rows not picked already.
    * `census` is every row of `SparkEntry.queries`. */
  def workloadRows(config: JValue, name: String): Seq[String] =
    if (name == "census") graft.SparkEntry.queries.keys.toSeq.sorted
    else {
      val wl = config \ "workloads" \ name
      require(wl != JNothing, s"unknown workload $name")
      val take = wl \ "take" match {
        case JObject(fields) => fields.collect { case (l, JInt(k)) => l -> k.toInt }
        case _ => Nil
      }
      val picked = take.flatMap { case (l, k) =>
        strings(config \ "lists" \ l).zipWithIndex.collect { case (r, i) if i % k == 0 => r }
      }
      picked ++ strings(wl \ "keep").filterNot(picked.contains)
    }
}
