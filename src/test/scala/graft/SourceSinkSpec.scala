package graft

import java.nio.file.Files
import org.apache.spark.sql.types._
import graft.core._
import graft.dsl._
import graft.table.Table

/** Construction sources (csv/json/orc/catalog/sql) and sinks
  * (parquet/orc/csv/json, partitioned, bucketed catalog tables) —
  * the Spark-first analog of the reference's host-engine source layer
  * (table_impl.py:55-115). */
class SourceSinkSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("out").toString

  private def t = tbl(Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "a", 3.5))
    .toDF("id", "grp", "v"))

  test("csv round-trip with explicit schema keeps types") {
    val p = tmp("graft_csv")
    t.writeCsv(p)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("grp", StringType), StructField("v", DoubleType)))
    val back = Table.fromCsv(spark, p, "t_csv", schema = Some(schema))
    assert(back.columns == Seq("id", "grp", "v"))
    assert(rows(back.arrange(C("id")).select(C("id"), C("v"))) ==
      Seq(Seq(1L, 1.5), Seq(2L, 2.5), Seq(3L, 3.5)))
  }

  test("json round-trip and the full verb surface over a json source") {
    val p = tmp("graft_json")
    t.writeJson(p)
    val back = Table.fromJson(spark, p, "t_json")
    val agg = back.groupBy(C("grp"))
      .summarize("s" -> C("v").sum())
      .arrange(C("grp"))
    assert(rows(agg) == Seq(Seq("a", 5.0), Seq("b", 2.5)))
  }

  test("orc round-trip") {
    val p = tmp("graft_orc")
    t.writeOrc(p)
    assert(Table.fromOrc(spark, p, "t_orc").count() == 3)
  }

  test("partitioned parquet write prunes partitions on read") {
    val p = tmp("graft_part")
    t.writeParquet(p, partitionCols = Seq("grp"))
    // partition dirs exist…
    val dirs = new java.io.File(p).listFiles().map(_.getName).filter(_.startsWith("grp="))
    assert(dirs.toSet == Set("grp=a", "grp=b"))
    // …and a filtered scan only reads the matching partition
    val back = Table.fromParquet(spark, p, "t_part").filter(C("grp") === lit("a"))
    val plan = back.toDF.queryExecution.executedPlan.toString
    assert(back.count() == 2)
    assert(!plan.contains("grp=b"))
  }

  test("bucketed saveAsTable + catalog source reads back shuffle-free joins") {
    spark.sql("DROP TABLE IF EXISTS graft_bucketed")
    t.saveAsTable("graft_bucketed", bucketBy = Some((4, Seq("id"))),
      mode = "overwrite")
    val back = Table.fromTable(spark, "graft_bucketed")
    assert(back.count() == 3)
    assert(back.columns.toSet == Set("id", "grp", "v"))
    spark.sql("DROP TABLE IF EXISTS graft_bucketed")
  }

  /** Writes `df` as ONE parquet file `<dir>/<name>.parquet` (the
    * testdata layout), replacing any earlier file at that path. */
  private def writeSingleFile(df: org.apache.spark.sql.DataFrame, dir: String,
      name: String): Unit = {
    val out = tmp("graft_single")
    df.coalesce(1).write.parquet(out)
    val part = new java.io.File(out).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, java.nio.file.Paths.get(dir, s"$name.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  test("a repeat parquet source resolves from the schema cache with no Spark job") {
    val dir = Files.createTempDirectory("graft_src").toString
    writeSingleFile(t.toDF, dir, "t")
    val (first, cold) = ranDuring(Table.source(spark, dir, "t"))
    val (again, warm) = ranDuring(Table.source(spark, dir, "t"))
    assert(cold.jobs >= 1, "the first read infers the schema with a job")
    assert(warm.jobs == 0)
    assert(again.toDF.schema == first.toDF.schema)
    assert(rows(again.arrange(C("id"))) == rows(first.arrange(C("id"))))
  }

  test("a parquet file rewritten at the same path re-resolves its schema") {
    val dir = Files.createTempDirectory("graft_src").toString
    writeSingleFile(t.toDF, dir, "t")
    assert(Table.source(spark, dir, "t").columns == Seq("id", "grp", "v"))
    writeSingleFile(t.toDF.withColumn("w", $"id" * 10), dir, "t")
    val back = Table.source(spark, dir, "t")
    assert(back.columns == Seq("id", "grp", "v", "w"))
    assert(rows(back.arrange(C("id")).select(C("w"))) ==
      Seq(Seq(10L), Seq(20L), Seq(30L)))
  }

  test("a session clone with its own nanosAsLong gets its own resolution") {
    // a TIMESTAMP(NANOS) events file: the main session (nanosAsLong=true)
    // infers its `ts` as Long, the clone must not see that cached schema
    val path = Files.createTempDirectory("graft_nanos").resolve("events.parquet").toString
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message ev { required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path)).withType(schema).build()
    try w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      .newGroup().append("ts", 1700000000123456789L))
    finally w.close()
    assert(Table.readParquet(spark, path).schema("ts").dataType == LongType)
    val clone = spark.newSession()
    clone.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val uncached = scala.util.Try(clone.read.parquet(path).schema("ts").dataType)
    val viaCache = scala.util.Try(Table.readParquet(clone, path).schema("ts").dataType)
    assert(viaCache.toOption == uncached.toOption)
    assert(viaCache.failed.toOption.map(_.getClass) ==
      uncached.failed.toOption.map(_.getClass))
  }

  test("a missing parquet source fails exactly like the plain reader") {
    val dir = Files.createTempDirectory("graft_src").toString
    val plain = intercept[Exception](spark.read.parquet(s"$dir/nope.parquet"))
    val viaSource = intercept[Exception](Table.source(spark, dir, "nope"))
    assert(viaSource.getClass == plain.getClass)
    assert(viaSource.getMessage == plain.getMessage)
  }

  test("fromSql source") {
    t.toDF.createOrReplaceTempView("graft_sql_src")
    val s = Table.fromSql(spark,
      "SELECT id * 10 AS id10 FROM graft_sql_src WHERE id <= 2", "sq")
    assert(rows(s.arrange(C("id10"))) == Seq(Seq(10L), Seq(20L)))
  }
}
