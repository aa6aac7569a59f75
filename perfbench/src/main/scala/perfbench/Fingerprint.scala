package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** An order-insensitive digest of a result: its schema, its row count
  * and the sum (exact, as a decimal) of one 64-bit hash per row. Each row
  * hashes its string cast, which covers every column type including
  * maps and intervals; columns are renamed positionally first so duplicate or dotted
  * names cannot collide. */
final case class Fingerprint(schema: String, rows: Long, digest: String)

object Fingerprint {
  def of(df: DataFrame): Fingerprint = {
    val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    val cols = df.columns.indices.map(i => s"c$i")
    val h = xxhash64(struct(cols.map(col): _*).cast("string"))
    val r = df.toDF(cols: _*)
      .agg(count(lit(1)), coalesce(sum(h.cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")))
      .head()
    Fingerprint(schema, r.getLong(0), r.getDecimal(1).toPlainString)
  }
}
