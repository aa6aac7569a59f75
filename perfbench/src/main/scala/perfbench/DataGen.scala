package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Writes the benchmark's input tables: the star schema plus the
  * `events`, `documents` and `embeddings` tables that the engine's query
  * rows read, one single-file parquet per table named `<table>.parquet`.
  *
  * Column names, types and value distributions follow the tables the
  * engine's correctness gate runs on (a TPC-H-like schema scaled by
  * `sf`), so every row runs unchanged. The data is fixed: one internal
  * seed per table, independent of the workload seed, which only orders
  * the rows of a pass. */
object DataGen {
  private val Words = Vector("a", "the", "join", "hash", "row", "batch", "scan",
    "customer", "column", "filter", "small", "slow", "merge", "order", "vector",
    "line", "data", "table", "agg", "value", "key", "stream", "window", "spark",
    "group", "part", "big", "sort", "query", "fast")
  private val Langs = Vector("en", "en", "en", "es", "de", "fr", "zh")
  private val Regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Adjs = Vector("small", "red", "blue", "hot", "old", "large", "green", "shiny")
  private val Nouns = Vector("ring", "widget", "bolt", "plate", "rod", "anvil", "gear", "pipe")
  private val PTypes = Vector("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Vector("click", "view", "purchase", "signup", "error")

  private def field(n: String, t: DataType) = StructField(n, t, nullable = true)
  private def ntz(base: LocalDateTime, micros: Long): LocalDateTime =
    base.plusNanos(micros * 1000L)
  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100.0) / 100.0

  /** Row counts per table at scale `sf` (lineitem = 6M × sf). */
  def counts(sf: Double): Map[String, Int] = {
    def n(base: Double, min: Int) = math.max(min, math.round(base * sf).toInt)
    Map("region" -> 5, "nation" -> 25, "customer" -> n(150000, 15),
      "supplier" -> n(10000, 10), "part" -> n(200000, 20), "orders" -> n(1500000, 150),
      "lineitem" -> n(6000000, 600), "events" -> n(1000000, 100),
      "users" -> n(15000, 15), "documents" -> n(50000, 500),
      "embeddings" -> n(20000, 500))
  }

  def generate(spark: SparkSession, dir: Path, sf: Double): Unit = {
    val c = counts(sf)
    val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    val ev0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    def rnd(salt: Int) = new SplittableRandom(42L * 1000003L + salt)

    def write(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      val tmp = dir.resolve(s".$name.tmp")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
      deleteTree(tmp)
    }

    write("region", StructType(Seq(field("r_regionkey", IntegerType),
      field("r_name", StringType))), Regions.indices.map(i => Row(i, Regions(i))))
    write("nation", StructType(Seq(field("n_nationkey", IntegerType),
      field("n_name", StringType), field("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    { val r = rnd(1)
      write("customer", StructType(Seq(field("c_custkey", LongType),
        field("c_name", StringType), field("c_nationkey", IntegerType),
        field("c_acctbal", DoubleType), field("c_mktsegment", StringType))),
        (0 until c("customer")).map(i => Row(i.toLong, f"Customer#$i%09d",
          r.nextInt(25), money(r, -999.99, 9999.99), Segments(r.nextInt(5))))) }
    { val r = rnd(2)
      write("supplier", StructType(Seq(field("s_suppkey", LongType),
        field("s_name", StringType), field("s_nationkey", IntegerType),
        field("s_acctbal", DoubleType))),
        (0 until c("supplier")).map(i => Row(i.toLong, f"Supplier#$i%09d",
          r.nextInt(25), money(r, -999.99, 9999.99)))) }
    { val r = rnd(3)
      write("part", StructType(Seq(field("p_partkey", LongType), field("p_name", StringType),
        field("p_brand", StringType), field("p_type", StringType),
        field("p_size", IntegerType), field("p_retailprice", DoubleType))),
        (0 until c("part")).map(i => Row(i.toLong,
          s"${Adjs(r.nextInt(Adjs.size))} ${Nouns(r.nextInt(Nouns.size))}",
          s"Brand#${1 + r.nextInt(25)}", PTypes(r.nextInt(PTypes.size)),
          1 + r.nextInt(50), (9000 + i % 1000) / 10.0))) }
    { val r = rnd(4)
      write("orders", StructType(Seq(field("o_orderkey", LongType),
        field("o_custkey", LongType), field("o_orderstatus", StringType),
        field("o_totalprice", DoubleType), field("o_orderdate", TimestampNTZType),
        field("o_orderpriority", StringType))),
        (0 until c("orders")).map(i => Row(i.toLong, r.nextInt(c("customer")).toLong,
          Seq("F", "O", "P")(r.nextInt(3)), money(r, 1000.0, 500000.0),
          day0.plusDays(r.nextInt(2404).toLong), Priorities(r.nextInt(5))))) }
    { val r = rnd(5)
      write("lineitem", StructType(Seq(field("l_orderkey", LongType),
        field("l_partkey", LongType), field("l_suppkey", LongType),
        field("l_linenumber", IntegerType), field("l_quantity", DoubleType),
        field("l_extendedprice", DoubleType), field("l_discount", DoubleType),
        field("l_tax", DoubleType), field("l_returnflag", StringType),
        field("l_linestatus", StringType), field("l_shipdate", TimestampNTZType))),
        (0 until c("lineitem")).map(_ => Row(r.nextInt(c("orders")).toLong,
          r.nextInt(c("part")).toLong, r.nextInt(c("supplier")).toLong,
          1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble, money(r, 900.0, 105000.0),
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, Seq("A", "N", "R")(r.nextInt(3)),
          Seq("F", "O")(r.nextInt(2)), day0.plusDays(1L + r.nextInt(2499))))) }
    { val r = rnd(6)
      val n = c("events")
      val span = 30L * 86400L * 1000000L
      var t = 0L
      write("events", StructType(Seq(field("event_id", LongType),
        field("ts", TimestampNTZType), field("user_id", LongType),
        field("event_type", StringType), field("value", DoubleType),
        field("props", StringType))),
        (0 until n).map { i =>
          t += (-math.log(1.0 - r.nextDouble()) * span / n).toLong
          Row(i.toLong, ntz(ev0, math.min(t, span - 1)), r.nextInt(c("users")).toLong,
            EventTypes(r.nextInt(5)),
            math.max(0.01, math.round(-math.log(1.0 - r.nextDouble()) * 5000.0) / 100.0),
            s"""{"k": ${r.nextInt(100)}}""")
        }) }
    { val r = rnd(7)
      val texts = scala.collection.mutable.ArrayBuffer.empty[String]
      write("documents", StructType(Seq(field("doc_id", LongType), field("text", StringType),
        field("lang", StringType), field("source", StringType), field("n_chars", LongType))),
        (0 until c("documents")).map { i =>
          // one document in twenty is a planted near-duplicate of an earlier one
          val text =
            if (i > 0 && r.nextInt(20) == 0) texts(r.nextInt(texts.size)) + " dup"
            else Seq.fill(10 + r.nextInt(80))(Words(r.nextInt(Words.size))).mkString(" ")
          texts += text
          Row(i.toLong, text, Langs(r.nextInt(Langs.size)), s"src${i % 20}", text.length.toLong)
        }) }
    { val r = rnd(8)
      write("embeddings", StructType(Seq(field("vec_id", LongType),
        field("embedding", ArrayType(FloatType, containsNull = true)),
        field("label", IntegerType))),
        (0 until c("embeddings")).map { i =>
          val v = Array.fill(64)(r.nextGaussian())
          val norm = math.sqrt(v.map(x => x * x).sum)
          Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
        }) }
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.delete(q))
      finally s.close()
    }

  /** `DataGen <dir> <sf>`: writes the tables into `dir` (replacing it). */
  def main(args: Array[String]): Unit = {
    val dir = Paths.get(args(0)).toAbsolutePath
    val sf = args(1).toDouble
    val spark = Session.build(1, dir.getParent.resolve(s"${dir.getFileName}.gen"))
    try {
      deleteTree(dir)
      Files.createDirectories(dir)
      generate(spark, dir, sf)
    } finally {
      spark.stop()
      deleteTree(dir.getParent.resolve(s"${dir.getFileName}.gen"))
    }
  }
}
