package graft.functions

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

/** Join operators beyond Spark's built-in set, composed from built-ins
  * (preference (a) of the custom-operator ladder: no custom physical plan
  * needed). */
object joins {

  /** Backward as-of join: for every left row, the latest right row with
    * `rightTs <= leftTs` within the same `by` keys; unmatched left rows
    * keep nulls (left-join semantics).
    *
    * Plan shape: tag both sides, union, ONE shuffle+sort on
    * (by, ts, side), then `last(_, ignoreNulls)` over the growing window
    * carries the most recent right values forward. This is the
    * sort-merge-shaped as-of plan — linear after one shuffle, no range
    * explosion, skew-safe under AQE — rather than a range join.
    *
    * @param rightVals right columns to carry (exposed under the same
    *        names; must not clash with left column names)
    */
  def asofBackward(left: DataFrame, right: DataFrame,
      leftTs: String, rightTs: String, by: Seq[String],
      rightVals: Seq[String]): DataFrame = {
    val clash = rightVals.toSet.intersect(left.columns.toSet)
    require(clash.isEmpty, s"asofBackward: right value columns clash with left: $clash")
    val lt = left
      .withColumn("__ats", F.col(leftTs))
      .withColumn("__side", F.lit(0))
    val rt = right.select(
      (by.map(F.col) :+ F.col(rightTs).as("__ats") :+ F.lit(1).as("__side")) ++
        rightVals.map(n => F.col(n).as(s"__rv_$n")): _*)
    val tagged = lt.unionByName(rt, allowMissingColumns = true)
    // right rows sort before left rows at equal ts (side desc) so `>=`
    // matches; the frame grows from the partition start to the current row
    val w = Window.partitionBy(by.map(F.col): _*)
      .orderBy(F.col("__ats").asc, F.col("__side").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = rightVals.foldLeft(tagged) { (df, n) =>
      df.withColumn(n, F.last(F.col(s"__rv_$n"), ignoreNulls = true).over(w))
    }
    carried.filter(F.col("__side") === 0)
      .drop(("__ats" +: "__side" +: rightVals.map(n => s"__rv_$n")): _*)
  }

  /** Binned point-in-interval range join: every (point, interval) pair
    * with `lo <= pointTs <= hi` (plus optional `by` equi-keys). Naively
    * this is a cross join with an inequality filter — quadratic and
    * unshardable. Instead both sides are mapped onto fixed-width bins
    * of the (numeric or timestamp) axis: a point lands in exactly ONE
    * bin, an interval is exploded across every bin it covers, and the
    * join becomes an EQUI-join on (by..., bin) + a residual predicate —
    * one hash shuffle, AQE-skew-splittable, no duplicate pairs by
    * construction (each qualifying pair meets in precisely the point's
    * bin). `binWidth` is in the axis' native units (microseconds for
    * timestamps) and trades replication (intervals spanning many bins)
    * against bucket occupancy — set it near the typical interval
    * length. Interval columns are exposed suffixed with `_iv`; clashes
    * with point columns are rejected eagerly.
    *
    * Reference model: pydiverse.transform expresses this only as a
    * cross join + filter; this is the scale-path replacement (same
    * result set, oracled as the inequality join in x78). */
  def rangeJoin(points: DataFrame, intervals: DataFrame,
      pointTs: String, lo: String, hi: String,
      binWidth: Long, by: Seq[String] = Nil): DataFrame = {
    require(binWidth > 0, s"rangeJoin: binWidth must be > 0 (got $binWidth)")
    import org.apache.spark.sql.types.{DataType, DateType, LongType,
      TimestampNTZType, TimestampType}
    // the comparable axis: microseconds for timestamps (a plain Long
    // cast would be SECONDS and truncate), raw value for numerics
    def axis(c: Column, dt: DataType): Column = dt match {
      case TimestampType => F.unix_micros(c)
      case TimestampNTZType | DateType => F.unix_micros(c.cast(TimestampType))
      case _ => c.cast(LongType)
    }
    val ivRenamed = intervals.columns.map { c =>
      if (by.contains(c)) F.col(c) else F.col(c).as(s"${c}_iv")
    }
    val clash = intervals.columns.filterNot(by.contains).map(_ + "_iv")
      .toSet.intersect(points.columns.toSet)
    require(clash.isEmpty, s"rangeJoin: suffixed interval columns clash with point columns: $clash")
    val pAxis = axis(F.col(pointTs), points.schema(pointTs).dataType)
    val loAxis = axis(F.col(s"${lo}_iv"), intervals.schema(lo).dataType)
    val hiAxis = axis(F.col(s"${hi}_iv"), intervals.schema(hi).dataType)
    def bin(c: Column): Column = F.floor(c / binWidth)
    val p = points.withColumn("__bin", bin(pAxis))
    val iv = intervals.select(ivRenamed.toIndexedSeq: _*)
      .filter(loAxis <= hiAxis)
      .withColumn("__bin", F.explode(F.sequence(bin(loAxis), bin(hiAxis))))
    p.join(iv, by :+ "__bin")
      .filter(pAxis.between(loAxis, hiAxis))
      .drop("__bin")
  }

  /** Binned interval-overlap join: every (left, right) interval pair
    * with `a.lo <= b.hi && b.lo <= a.hi` (plus optional `by`
    * equi-keys). Both sides are exploded across the fixed-width bins
    * they cover and equi-joined on (by..., bin) — the [[rangeJoin]]
    * posture — but since BOTH sides replicate, an overlapping pair can
    * now meet in many shared bins. Instead of a dedup shuffle, the
    * residual predicate keeps the pair only in the ONE bin that
    * contains `max(a.lo, b.lo)` (the start of the overlap, which every
    * overlapping pair has and which lies inside both intervals'
    * bin spans) — exactly-once by construction, no `distinct`. Right
    * columns are exposed suffixed `_iv`, clashes rejected eagerly. */
  def overlapJoin(left: DataFrame, right: DataFrame,
      leftLo: String, leftHi: String, rightLo: String, rightHi: String,
      binWidth: Long, by: Seq[String] = Nil): DataFrame = {
    require(binWidth > 0, s"overlapJoin: binWidth must be > 0 (got $binWidth)")
    import org.apache.spark.sql.types.{DataType, DateType, LongType,
      TimestampNTZType, TimestampType}
    def axis(c: Column, dt: DataType): Column = dt match {
      case TimestampType => F.unix_micros(c)
      case TimestampNTZType | DateType => F.unix_micros(c.cast(TimestampType))
      case _ => c.cast(LongType)
    }
    val rRenamed = right.columns.map { c =>
      if (by.contains(c)) F.col(c) else F.col(c).as(s"${c}_iv")
    }
    val clash = right.columns.filterNot(by.contains).map(_ + "_iv")
      .toSet.intersect(left.columns.toSet)
    require(clash.isEmpty, s"overlapJoin: suffixed right columns clash with left columns: $clash")
    val aLo = axis(F.col(leftLo), left.schema(leftLo).dataType)
    val aHi = axis(F.col(leftHi), left.schema(leftHi).dataType)
    val bLo = axis(F.col(s"${rightLo}_iv"), right.schema(rightLo).dataType)
    val bHi = axis(F.col(s"${rightHi}_iv"), right.schema(rightHi).dataType)
    def bin(c: Column): Column = F.floor(c / binWidth)
    val l = left.filter(aLo <= aHi)
      .withColumn("__bin", F.explode(F.sequence(bin(aLo), bin(aHi))))
    val r = right.select(rRenamed.toIndexedSeq: _*).filter(bLo <= bHi)
      .withColumn("__bin", F.explode(F.sequence(bin(bLo), bin(bHi))))
    l.join(r, by :+ "__bin")
      .filter(aLo <= bHi && bLo <= aHi &&
        F.col("__bin") === bin(F.greatest(aLo, bLo)))
      .drop("__bin")
  }
}
