package graft

import graft.core._
import graft.dsl._

/** Export targets + eval_aligned escape hatch. */
class ExportSpec extends SparkSpec {
  import spark.implicits._

  private def t = tbl(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))

  test("exportScalar / exportMaps / exportColumns / toLocalIterator") {
    assert(t.summarize("n" -> count()).exportScalar == 2L)
    intercept[GraftError] { t.exportScalar }
    val maps = t.arrange(C("id")).exportMaps
    assert(maps == Seq(Map("id" -> 1L, "s" -> "a"), Map("id" -> 2L, "s" -> "b")))
    val cols = t.arrange(C("id")).exportColumns
    assert(cols("s") == Seq("a", "b"))
    assert(t.toLocalIterator.size == 2)
    assert(t.backend == "spark" && t.isSqlBacked)
  }

  test("schema_overrides casts at the export boundary, outside the type system") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.{col => scol}
    val d = tbl(Seq("1.25", "3.50").toDF("s")
      .select(scol("s").cast(DecimalType(12, 2)).as("v")), "dec")
    // Decimal(12,2) → Double on export, no checked cast involved
    val maps = d.arrange(C("v")).exportMaps(Map("v" -> DoubleType))
    assert(maps == Seq(Map("v" -> 1.25), Map("v" -> 3.5)))
    assert(d.toDF(Map("v" -> DoubleType)).schema("v").dataType == DoubleType)
    assert(d.collect(Map("v" -> StringType)).map(_.getString(0)).sorted
      .toSeq == Seq("1.25", "3.50"))
    // exportColumns + scalar take the same overrides
    assert(d.exportColumns(Map("v" -> DoubleType))("v").toSet == Set(1.25, 3.5))
    assert(d.filter(C("v") > lit(2.0)).exportScalar(Map("v" -> DoubleType)) == 3.5)
    // unknown column name is rejected eagerly
    intercept[GraftColumnNotFoundError] { d.toDF(Map("nope" -> DoubleType)) }
  }

  test("evalAligned splices a column from another table by row position") {
    val other = tbl(Seq(10.0, 20.0).toDF("v"), "o")
    val j = t.arrange(C("id")).evalAligned(other, "v2" -> (C("v") * lit(3.0)))
    assert(j.columns == Seq("id", "s", "v2"))
    assert(rows(j.arrange(C("id")).select(C("v2"))) == Seq(Seq(30.0), Seq(60.0)))
    intercept[GraftError] { t.evalAligned(other, "s" -> C("v")) }
  }

  test("withColumnFromSeq splices external local data positionally") {
    val j = t.arrange(C("id")).withColumnFromSeq("w", Seq(0.5, 0.7))
    assert(j.columns == Seq("id", "s", "w"))
    assert(rows(j.arrange(C("id")).select(C("w"))) == Seq(Seq(0.5), Seq(0.7)))
  }

  test("evalAligned raises on a row-count mismatch instead of dropping rows") {
    val e = intercept[GraftError] {
      t.withColumnFromSeq("w", Seq(0.5, 0.7, 0.9))
    }
    assert(e.getMessage.contains("row count mismatch"))
  }

  test("evalAligned aligns to the CURRENT (arranged) row order") {
    // t rows by insertion: id=1 then id=2; arranged desc: id=2 first —
    // the splice must attach to the arranged order
    val j = t.arrange(C("id").desc).withColumnFromSeq("w", Seq(100.0, 200.0))
    assert(rows(j.arrange(C("id")).select(C("id"), C("w"))) ==
      Seq(Seq(1L, 200.0), Seq(2L, 100.0)))
  }

  test("evalAligned still aligns to the arranged order AFTER alias()") {
    // alias() rebuilds every physical column under fresh uuids; the kept
    // sort-key ASTs must be remapped onto them, or the splice silently
    // falls back to insertion order (round-3 verdict item #2)
    val j = t.arrange(C("id").desc).alias("a2")
      .withColumnFromSeq("w", Seq(100.0, 200.0))
    assert(rows(j.arrange(C("id")).select(C("id"), C("w"))) ==
      Seq(Seq(1L, 200.0), Seq(2L, 100.0)))
  }

  test("evalAligned shape check runs as ONE fused Spark job") {
    val other = tbl(Seq(10.0, 20.0).toDF("v"), "o1j")
    val (_, ran) = obs.during(spark)(t.evalAligned(other, "v2" -> C("v")))
    assert(ran.jobs == 1,
      s"expected exactly 1 job for the fused count check, saw ${ran.jobs}")
  }

  test("evalAligned fails fast above the configured row threshold") {
    spark.conf.set("spark.graft.evalAligned.maxRows", "1")
    try {
      val e = intercept[GraftError] {
        t.withColumnFromSeq("w", Seq(0.5, 0.7))
      }
      assert(e.getMessage.contains("maxRows"))
    } finally spark.conf.unset("spark.graft.evalAligned.maxRows")
  }

  test("transferColReferences: old column handles survive a checkpoint") {
    import graft.table.Table
    val orig = t.mutate("x" -> (C("id") * lit(10L)))
    val handle = orig.col("x") // ColRef bound to `orig`'s uuid
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    orig.toDF.write.mode("overwrite").parquet(ckpt)
    val reloaded = Table.fromDF(spark.read.parquet(ckpt), "t_ckpt")
    // without the transfer, the old handle must be rejected…
    intercept[GraftColumnNotFoundError] {
      reloaded.mutate("y" -> (handle + lit(1L)))
    }
    // …with it, checkpoint-and-continue flows keep working
    val t2 = reloaded.transferColReferences(orig)
    assert(rows(t2.mutate("y" -> (handle + lit(1L)))
      .arrange(C("id")).select(C("y"))) == Seq(Seq(11L), Seq(21L)))
    // a column absent from the reference source is an error
    intercept[GraftColumnNotFoundError] {
      reloaded.transferColReferences(t) // t lacks `x`
    }
  }

  test("collectNow materializes and keeps pipelining") {
    val c = t.mutate("x" -> (C("id") * lit(2L))).collectNow()
    assert(c.filter(C("x") > lit(2L)).count() == 1)
    // collectNow's pin is user-controlled by design; don't leak it into
    // the shared test session (ScaleSmokeSpec audits pinned RDDs)
    spark.catalog.clearCache()
  }

  test("buildQuery returns the optimized plan text") {
    assert(t.buildQuery.nonEmpty)
    assert(t.astRepr.contains("id"))
  }
}
