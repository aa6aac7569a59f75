package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Custom Catalyst expressions for the hot paths where built-in
  * higher-order functions (aggregate/zip_with) stay interpreted: a
  * whole-stage-codegen'd dot product over embedding arrays. Summation is
  * sequential in index order with a double accumulator — deterministic
  * and identical to the DuckDB oracle's list_sum convention.
  */
/** The engine-wide tokenizer trim: ALL leading/trailing whitespace (the
  * `\\s` class the splitter uses), not SQL TRIM's spaces-only — a tab- or
  * newline-edged document must not produce phantom "" edge tokens.
  * Mirrors [[graft.functions.text.wsTrim]]; every native tokenizing
  * expression and the portable built-ins pipeline share this convention
  * (PathologicalTextSpec pins it). */
private[plans] object Tok {
  def wsTrim(s: String): String = {
    @inline def isWs(c: Char) =
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
    var i = 0; var j = s.length
    while (i < j && isWs(s.charAt(i))) i += 1
    while (j > i && isWs(s.charAt(j - 1))) j -= 1
    if (i == 0 && j == s.length) s else s.substring(i, j)
  }
}

case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(lt, _), ArrayType(rt, _))
        if Seq(lt, rt).forall(t => t == FloatType || t == DoubleType) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects array<float|double> inputs, got ${left.dataType} / ${right.dataType}")
  }

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lf = isFloat(left); val rf = isFloat(right)
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xv * yv
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // fresh names: several dot products may fuse into one codegen stage
      val n = ctx.freshName("n"); val acc = ctx.freshName("acc"); val i = ctx.freshName("i")
      val getA = if (isFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getB = if (isFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) { $acc += $getA * $getB; }
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Intersection size of two SORTED long arrays (callers sort once per row
  * with array_sort) — a linear merge with no per-pair hash set or result
  * array, the hot inner loop of exact Jaccard verification. */
case class SortedLongIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"graft_intersect_count expects array<bigint> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var n = 0L
    while (i < x.numElements() && j < y.numElements()) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { n += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j"); val n = ctx.freshName("n")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $i = 0; int $j = 0; long $n = 0L;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $n++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** 64-bit SimHash from an array of token hashes: bit-vote loop in tight
  * generated Java instead of 64 interpreted when-chains per token. */
case class SimHash64FromHashes(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_simhash64 expects array<bigint>, got $t")
  }

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    var i = 0
    while (i < x.numElements()) {
      val h = x.getLong(i)
      var j = 0
      while (j < 64) { votes(j) += (((h >>> j) & 1L).toInt * 2) - 1; j += 1 }
      i += 1
    }
    var sim = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) sim |= (1L << j); j += 1 }
    sim
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val votes = ctx.freshName("votes"); val i = ctx.freshName("i")
      val j = ctx.freshName("j"); val h = ctx.freshName("h"); val sim = ctx.freshName("sim")
      s"""
         |int[] $votes = new int[64];
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  long $h = $a.getLong($i);
         |  for (int $j = 0; $j < 64; $j++) {
         |    $votes[$j] += ((int)(($h >>> $j) & 1L) * 2) - 1;
         |  }
         |}
         |long $sim = 0L;
         |for (int $j = 0; $j < 64; $j++) { if ($votes[$j] > 0) $sim |= (1L << $j); }
         |${ev.value} = $sim;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Sorted distinct xxhash64 hashes of a document's k-word shingles in one
  * pass of compiled Java — replaces an interpreted Project of nested
  * `transform`/`slice`/`concat_ws` lambdas that re-evaluated the
  * tokenizing split four times per row (the dominant cost of every LSH
  * dedup query). Bit-identical to the built-ins pipeline
  * ([[graft.functions.dedup.shingleHashesPortable]]): full-whitespace
  * trim ([[Tok.wsTrim]], matching `text.tokens`' regex trim),
  * `split(_, "\\s+", -1)`, shingle string = tokens joined by a single
  * space (all tokens when fewer than k), hash = xxhash64(utf8, seed 42),
  * then distinct + signed-ascending sort. k must be a literal ≥ 1. */
case class ShingleHashesExpr(text: Expression, k: Expression)
    extends BinaryExpression {

  override def left: Expression = text
  override def right: Expression = k

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (text.dataType, k.dataType) match {
      case (StringType, IntegerType) =>
        if (k.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure("graft_shingle_hashes: k must be a literal")
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_shingle_hashes expects (string, int), got ${text.dataType} / ${k.dataType}")
    }

  override protected def nullSafeEval(t: Any, kk: Any): Any =
    ShingleHashesExpr.compute(t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      kk.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, kk) =>
      s"${ev.value} = graft.plans.ShingleHashesExpr.compute($t, $kk);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(text = newLeft, k = newRight)
}

object ShingleHashesExpr {
  private val ws = java.util.regex.Pattern.compile("\\s+")

  /** static so generated code can call it directly (one invoke per row). */
  def compute(text: org.apache.spark.unsafe.types.UTF8String, k: Int): ArrayData = {
    val toks = ws.split(Tok.wsTrim(text.toString), -1)
    val n = toks.length
    val hashes =
      if (n < k) Array(hashShingle(toks, 0, n))
      else Array.tabulate(n - k + 1)(i => hashShingle(toks, i, k))
    java.util.Arrays.sort(hashes)
    // in-place dedup of the sorted array
    var w = 0; var i = 0
    while (i < hashes.length) {
      if (w == 0 || hashes(i) != hashes(w - 1)) { hashes(w) = hashes(i); w += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      if (w == hashes.length) hashes else java.util.Arrays.copyOf(hashes, w))
  }

  private def hashShingle(toks: Array[String], start: Int, len: Int): Long = {
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < len) {
      if (i > 0) sb.append(' ')
      sb.append(toks(start + i))
      i += 1
    }
    XXH64.hashUTF8String(
      org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString), 42L)
  }
}

/** A document's k-word shingle STRINGS in order, duplicates preserved —
  * the codegen sibling of [[graft.functions.dedup.shingles]] for
  * operators that need the phrases themselves (n-gram counting, top-
  * n-gram share): one tokenize pass per row instead of an interpreted
  * transform whose lambda re-evaluates the split per element. */
case class ShingleStringsExpr(text: Expression, k: Expression)
    extends BinaryExpression {

  override def left: Expression = text
  override def right: Expression = k

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (text.dataType, k.dataType) match {
      case (StringType, IntegerType) =>
        if (k.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure("graft_shingles: k must be a literal")
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_shingles expects (string, int), got ${text.dataType} / ${k.dataType}")
    }

  override protected def nullSafeEval(t: Any, kk: Any): Any =
    ShingleStringsExpr.compute(t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      kk.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, kk) =>
      s"${ev.value} = graft.plans.ShingleStringsExpr.compute($t, $kk);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(text = newLeft, k = newRight)
}

object ShingleStringsExpr {
  private val ws = java.util.regex.Pattern.compile("\\s+")

  /** static so generated code can call it directly (one invoke per row). */
  def compute(text: org.apache.spark.unsafe.types.UTF8String, k: Int): ArrayData = {
    val toks = ws.split(Tok.wsTrim(text.toString), -1)
    val n = toks.length
    def shingle(start: Int, len: Int): org.apache.spark.unsafe.types.UTF8String = {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < len) {
        if (i > 0) sb.append(' ')
        sb.append(toks(start + i))
        i += 1
      }
      org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
    }
    val out: Array[Any] =
      if (n < k) Array(shingle(0, n))
      else Array.tabulate[Any](n - k + 1)(i => shingle(i, k))
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Share of a document's k-word n-grams taken by its most frequent
  * n-gram (Gopher's top-n-gram repetition signal) in ONE tokenize +
  * count pass per row — same result as sorting the shingles and taking
  * the longest run, without materializing the array. */
case class TopNgramShareExpr(text: Expression, k: Expression)
    extends BinaryExpression {

  override def left: Expression = text
  override def right: Expression = k

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (text.dataType, k.dataType) match {
      case (StringType, IntegerType) =>
        if (k.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure("graft_top_ngram_share: k must be a literal")
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_top_ngram_share expects (string, int), got ${text.dataType} / ${k.dataType}")
    }

  override protected def nullSafeEval(t: Any, kk: Any): Any =
    TopNgramShareExpr.compute(t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      kk.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, kk) =>
      s"${ev.value} = graft.plans.TopNgramShareExpr.compute($t, $kk);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(text = newLeft, k = newRight)
}

object TopNgramShareExpr {
  private val ws = java.util.regex.Pattern.compile("\\s+")

  /** static so generated code can call it directly (one invoke per row). */
  def compute(text: org.apache.spark.unsafe.types.UTF8String, k: Int): Double = {
    val toks = ws.split(Tok.wsTrim(text.toString), -1)
    val n = toks.length
    val total = if (n < k) 1 else n - k + 1
    val counts = new java.util.HashMap[String, Int](total * 2)
    var best = 0
    var i = 0
    while (i < total) {
      val sb = new java.lang.StringBuilder
      var j = 0
      val len = if (n < k) n else k
      while (j < len) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val c = counts.merge(sb.toString, 1, (a, b) => a + b)
      if (c > best) best = c
      i += 1
    }
    best.toDouble / total.toDouble
  }
}

/** All the counters the Gopher quality-rule battery needs, in ONE scan
  * per row: word count / summed word length / alphabetic-word count
  * (over `split(trim(s), "\s+")` — the engine-wide token convention,
  * including its leading-empty-token quirk on non-space leading
  * whitespace, so SQL oracles replay it exactly), plus line count and
  * bullet-led / ellipsis-ended line counts (space-only ltrim/rtrim, the
  * SQL trim convention). Replaces six interpreted higher-order-function
  * pipelines that each re-split the document; codegen'd, so whole-stage
  * subexpression elimination runs the scan once however many rule
  * columns reference it. */
case class GopherStatsExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = GopherStatsExpr.Schema

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_gopher_stats expects string, got $t")
  }

  override protected def nullSafeEval(t: Any): Any =
    GopherStatsExpr.compute(t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.plans.GopherStatsExpr.compute($t);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GopherStatsExpr {
  val Schema: StructType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("sum_word_len", LongType, nullable = false),
    StructField("n_alpha_words", LongType, nullable = false),
    StructField("n_lines", LongType, nullable = false),
    StructField("n_bullet_lines", LongType, nullable = false),
    StructField("n_ellipsis_lines", LongType, nullable = false)))

  private val ws = java.util.regex.Pattern.compile("\\s+")

  /** static so generated code can call it directly (one invoke per row). */
  def compute(text: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.InternalRow = {
    // words over the full-whitespace trim (the engine-wide token
    // convention, Tok.wsTrim)
    val trimmed = Tok.wsTrim(text.toString)
    var nWords = 0L; var sumLen = 0L; var nAlpha = 0L
    if (trimmed.nonEmpty) {
      val words = ws.split(trimmed, -1)
      nWords = words.length.toLong
      var i = 0
      while (i < words.length) {
        val w = words(i)
        sumLen += w.codePointCount(0, w.length).toLong
        var j = 0; var alpha = false
        while (j < w.length && !alpha) {
          val ch = w.charAt(j)
          alpha = (ch >= 'A' && ch <= 'Z') || (ch >= 'a' && ch <= 'z')
          j += 1
        }
        if (alpha) nAlpha += 1
        i += 1
      }
    }
    // lines over the RAW string; bullet/ellipsis tests use space-only
    // ltrim/rtrim (the SQL convention), mirroring the oracle SQL
    val raw = text.toString
    val lines = raw.split("\n", -1)
    var nBullet = 0L; var nEllipsis = 0L
    var li = 0
    while (li < lines.length) {
      val l = lines(li)
      var a = 0
      while (a < l.length && l.charAt(a) == ' ') a += 1
      if (a < l.length) {
        val c0 = l.charAt(a)
        if (c0 == '-' || c0 == '*' || c0 == '•') nBullet += 1
      }
      var b = l.length
      while (b > 0 && l.charAt(b - 1) == ' ') b -= 1
      if ((b >= 3 && l.charAt(b - 1) == '.' && l.charAt(b - 2) == '.' &&
            l.charAt(b - 3) == '.') ||
          (b >= 1 && l.charAt(b - 1) == '…')) nEllipsis += 1
      li += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nWords, sumLen, nAlpha, lines.length.toLong, nBullet, nEllipsis))
  }
}

/** Sorted distinct 60-bit md5-prefix fingerprints of a document's k-word
  * shingles — [[ShingleHashesExpr]]'s portable sibling for operators
  * whose counts must reproduce in any engine with md5 (benchmark
  * decontamination): the fingerprint equals
  * `CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT)`, i.e.
  * the top 60 bits of the md5 digest, so a cross-engine oracle can
  * recompute it exactly. One tokenize + md5 loop per row in generated
  * code — replaces an interpreted transform(transform(...)) pipeline
  * that re-evaluated the split per lambda. */
case class ShingleFp64Expr(text: Expression, k: Expression)
    extends BinaryExpression {

  override def left: Expression = text
  override def right: Expression = k

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (text.dataType, k.dataType) match {
      case (StringType, IntegerType) =>
        if (k.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure("graft_shingle_fp64: k must be a literal")
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_shingle_fp64 expects (string, int), got ${text.dataType} / ${k.dataType}")
    }

  override protected def nullSafeEval(t: Any, kk: Any): Any =
    ShingleFp64Expr.compute(t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      kk.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, kk) =>
      s"${ev.value} = graft.plans.ShingleFp64Expr.compute($t, $kk);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(text = newLeft, k = newRight)
}

object ShingleFp64Expr {
  private val ws = java.util.regex.Pattern.compile("\\s+")
  private val md5Local =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** static so generated code can call it directly (one invoke per row). */
  def compute(text: org.apache.spark.unsafe.types.UTF8String, k: Int): ArrayData = {
    val toks = ws.split(Tok.wsTrim(text.toString), -1)
    val n = toks.length
    val fps =
      if (n < k) Array(fpShingle(toks, 0, n))
      else Array.tabulate(n - k + 1)(i => fpShingle(toks, i, k))
    java.util.Arrays.sort(fps)
    var w = 0; var i = 0
    while (i < fps.length) {
      if (w == 0 || fps(i) != fps(w - 1)) { fps(w) = fps(i); w += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      if (w == fps.length) fps else java.util.Arrays.copyOf(fps, w))
  }

  private def fpShingle(toks: Array[String], start: Int, len: Int): Long = {
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < len) {
      if (i > 0) sb.append(' ')
      sb.append(toks(start + i))
      i += 1
    }
    val md = md5Local.get()
    md.reset()
    val d = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // first 15 hex digits = top 60 bits: big-endian first 8 bytes >>> 4
    var v = 0L
    var j = 0
    while (j < 8) { v = (v << 8) | (d(j) & 0xffL); j += 1 }
    v >>> 4
  }
}

/** MinHash signature from a pre-hashed shingle array in ONE tight loop:
  * sig[i] = min over shingles h of xxhash64(i, h) — bit-identical to the
  * interpreted `aggregate`/`zip_with` fold it replaces
  * ([[graft.functions.dedup.minhashFromHashesPortable]]): Spark's
  * `xxhash64(lit(i), h)` is XXH64.hashLong(h, XXH64.hashInt(i, 42)), so
  * the per-permutation seeds are precomputed once and the inner loop is
  * a single hashLong per (shingle, perm). Null shingles contribute the
  * bare seed, matching XxHash64's null-skip. numPerm must be a literal. */
case class MinHashFromHashes(hashes: Expression, numPerm: Expression)
    extends BinaryExpression {

  override def left: Expression = hashes
  override def right: Expression = numPerm

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (hashes.dataType, numPerm.dataType) match {
      case (ArrayType(LongType, _), IntegerType) =>
        if (numPerm.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          "graft_minhash: numPerm must be a literal")
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_minhash expects (array<bigint>, int), got ${hashes.dataType} / ${numPerm.dataType}")
    }

  // per-permutation seed = xxhash64 state after hashing the perm index
  // (Int literal) from Spark's default seed 42
  private lazy val seeds: Array[Long] = {
    val p = numPerm.eval(null).asInstanceOf[Int]
    Array.tabulate(p)(i => XXH64.hashInt(i, 42L))
  }

  override protected def nullSafeEval(a: Any, p: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val np = p.asInstanceOf[Int]
    val sig = Array.fill(np)(Long.MaxValue)
    var k = 0
    while (k < x.numElements()) {
      var i = 0
      if (x.isNullAt(k)) {
        while (i < np) { if (seeds(i) < sig(i)) sig(i) = seeds(i); i += 1 }
      } else {
        val h = x.getLong(k)
        while (i < np) {
          val v = XXH64.hashLong(h, seeds(i))
          if (v < sig(i)) sig(i) = v
          i += 1
        }
      }
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, p) => {
      val seedsRef = ctx.addReferenceObj("minhashSeeds", seeds, "long[]")
      val sig = ctx.freshName("sig"); val k = ctx.freshName("k")
      val i = ctx.freshName("i"); val h = ctx.freshName("h"); val v = ctx.freshName("v")
      val xxh = classOf[XXH64].getName
      s"""
         |long[] $sig = new long[$p];
         |java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |for (int $k = 0; $k < $a.numElements(); $k++) {
         |  if ($a.isNullAt($k)) {
         |    for (int $i = 0; $i < $p; $i++) {
         |      if ($seedsRef[$i] < $sig[$i]) $sig[$i] = $seedsRef[$i];
         |    }
         |  } else {
         |    long $h = $a.getLong($k);
         |    for (int $i = 0; $i < $p; $i++) {
         |      long $v = $xxh.hashLong($h, $seedsRef[$i]);
         |      if ($v < $sig[$i]) $sig[$i] = $v;
         |    }
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(hashes = newLeft, numPerm = newRight)
}

/** REPLAYABLE MinHash signature from md5-prefix shingle fingerprints:
  * sig[i] = min over fingerprints h of ((a_i·h + b_i) mod p) with
  * p = 2^61 − 1 and per-permutation constants a_i, b_i derived from md5
  * (see [[MinHashPortableExpr.coeffs]]) — a classic Carter-Wegman hash
  * family whose arithmetic is EXACT integer math, reproducible in any
  * engine with md5 and 128-bit integers (DuckDB:
  * `(a::HUGEINT * h + b) % 2305843009213693951`). This is what lets
  * MinHash-LSH dedup run under a cross-engine oracle; the xxhash64
  * default ([[MinHashFromHashes]]) is faster but engine-native.
  * Input fingerprints must be < p (md5-prefix fps are 60-bit — see
  * [[ShingleFp64Expr]]); numPerm must be a literal. */
case class MinHashPortableExpr(hashes: Expression, numPerm: Expression)
    extends BinaryExpression {

  override def left: Expression = hashes
  override def right: Expression = numPerm

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (hashes.dataType, numPerm.dataType) match {
      case (ArrayType(LongType, _), IntegerType) =>
        if (numPerm.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          "graft_minhash_portable: numPerm must be a literal")
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_minhash_portable expects (array<bigint>, int), got " +
          s"${hashes.dataType} / ${numPerm.dataType}")
    }

  override protected def nullSafeEval(a: Any, p: Any): Any =
    MinHashPortableExpr.compute(a.asInstanceOf[ArrayData], p.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, p) =>
      s"${ev.value} = graft.plans.MinHashPortableExpr.compute($a, $p);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(hashes = newLeft, numPerm = newRight)
}

object MinHashPortableExpr {
  /** p = 2^61 − 1 (Mersenne: x mod p reduces by 61-bit chunk addition). */
  val P: Long = (1L << 61) - 1

  private val coeffCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()

  private def fp64(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L; var j = 0
    while (j < 8) { v = (v << 8) | (d(j) & 0xffL); j += 1 }
    v >>> 4
  }

  /** Per-permutation (a, b) constants: a_i = fp64("graft:minhash:a:i")+1
    * (60-bit md5 prefix, so a_i ∈ [1, 2^60] < p), b_i ∈ [0, 2^60).
    * Deterministic in i alone — an oracle can inline the same values. */
  def coeffs(numPerm: Int): (Array[Long], Array[Long]) =
    coeffCache.computeIfAbsent(numPerm, np => (
      Array.tabulate(np)(i => fp64(s"graft:minhash:a:$i") + 1L),
      Array.tabulate(np)(i => fp64(s"graft:minhash:b:$i"))))

  /** (a·h) mod (2^61−1) via 128-bit product split into 61-bit chunks
    * (2^61 ≡ 1 mod p, so x2·2^122 + x1·2^61 + x0 ≡ x2 + x1 + x0).
    * Requires a, h ∈ [0, 2^61): the product is < 2^122 and positive, so
    * Math.multiplyHigh's signed high word equals the unsigned one. */
  def mulmodP(a: Long, h: Long): Long = {
    val hi = Math.multiplyHigh(a, h)
    val lo = a * h
    var s = (lo & P) + (((lo >>> 61) | (hi << 3)) & P) + (hi >>> 58)
    while (s >= P) s -= P
    s
  }

  /** static so generated code can call it directly (one invoke per row). */
  def compute(x: ArrayData, numPerm: Int): ArrayData = {
    val (as, bs) = coeffs(numPerm)
    val sig = Array.fill(numPerm)(Long.MaxValue)
    var k = 0
    while (k < x.numElements()) {
      if (!x.isNullAt(k)) {
        val h = x.getLong(k)
        var i = 0
        while (i < numPerm) {
          var v = mulmodP(as(i), h) + bs(i)
          if (v >= P) v -= P
          if (v < sig(i)) sig(i) = v
          i += 1
        }
      }
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sig)
  }
}

/** All random-hyperplane LSH bucket keys of one embedding in one pass:
  * the ±1 plane signs arrive bit-PACKED as array<bigint> (layout
  * `[table][plane][word]`, bit i of word i>>6 = sign of element i), so a
  * 32-table × 16-plane × 64-dim plane bank is 4 KiB of plan state
  * instead of 512 inlined literal arrays (~260 KiB that previously rode
  * every task binary). Per plane the projection is a sequential double
  * accumulation `acc += ±vec[i]` — bit-identical to `graft_dot` against
  * a ±1.0 literal plane (multiplying by ±1.0 is exact), so buckets match
  * [[graft.functions.similarity.lshBucket]] exactly. Returns
  * array<bigint> of length nTables: table t's key has bit j set iff the
  * projection on plane (t, j) is ≥ 0. */
case class HyperplaneBuckets(vec: Expression, signs: Expression, nPlanes: Expression)
    extends TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = signs
  override def third: Expression = nPlanes

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, signs.dataType, nPlanes.dataType) match {
      case (ArrayType(vt, _), ArrayType(LongType, _), IntegerType)
          if vt == FloatType || vt == DoubleType =>
        if (nPlanes.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          "graft_hyperplane_buckets: nPlanes must be a literal")
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_hyperplane_buckets expects (array<float|double>, array<bigint>, int), got " +
          s"${vec.dataType} / ${signs.dataType} / ${nPlanes.dataType}")
    }

  private def isFloat: Boolean = vec.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(v: Any, s: Any, p: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val sg = s.asInstanceOf[ArrayData]
    val planes = p.asInstanceOf[Int]
    val dim = x.numElements()
    val words = (dim + 63) >> 6
    val nTables = sg.numElements() / (planes * words)
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var key = 0L
      var j = 0
      while (j < planes) {
        val base = (t * planes + j) * words
        var acc = 0.0
        var i = 0
        while (i < dim) {
          val xv = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
          val w = sg.getLong(base + (i >> 6))
          acc += (if (((w >>> (i & 63)) & 1L) == 1L) xv else -xv)
          i += 1
        }
        if (acc >= 0) key |= (1L << j)
        j += 1
      }
      out(t) = key
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, s, p) => {
      val dim = ctx.freshName("dim"); val words = ctx.freshName("words")
      val nT = ctx.freshName("nT"); val out = ctx.freshName("out")
      val t = ctx.freshName("t"); val j = ctx.freshName("j"); val i = ctx.freshName("i")
      val key = ctx.freshName("key"); val base = ctx.freshName("base")
      val acc = ctx.freshName("acc"); val w = ctx.freshName("w"); val xv = ctx.freshName("xv")
      val getV = if (isFloat) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
      s"""
         |int $dim = $v.numElements();
         |int $words = ($dim + 63) >> 6;
         |int $nT = $s.numElements() / ($p * $words);
         |long[] $out = new long[$nT];
         |for (int $t = 0; $t < $nT; $t++) {
         |  long $key = 0L;
         |  for (int $j = 0; $j < $p; $j++) {
         |    int $base = ($t * $p + $j) * $words;
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $dim; $i++) {
         |      double $xv = $getV;
         |      long $w = $s.getLong($base + ($i >> 6));
         |      $acc += ((($w >>> ($i & 63)) & 1L) == 1L) ? $xv : -$xv;
         |    }
         |    if ($acc >= 0) $key |= (1L << $j);
         |  }
         |  $out[$t] = $key;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(vec = newFirst, signs = newSecond, nPlanes = newThird)
}

/** Top-`nprobe` IVF centroid indices of one embedding by cosine, in one
  * pass: the centroid bank arrives as a flat array<double> of
  * `nlist × dim` components followed by `nlist` precomputed norms
  * (layout [c0…c_{nlist-1}, ‖c0‖…]; nlist is inferred from the bank
  * length and the vector's dim). Scores are dot(vec, c_i)/‖c_i‖ — the
  * query's own norm is constant across centroids and cannot change the
  * ranking. Ties and the selection order break toward the LOWER index,
  * so probing is deterministic. A zero-norm centroid scores -∞ and is
  * never probed. Returns array<int> of length min(nprobe, nlist);
  * corpus-side cell assignment is the same expression with nprobe = 1. */
case class CentroidTopK(vec: Expression, bank: Expression, nprobe: Expression)
    extends TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = bank
  override def third: Expression = nprobe

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, bank.dataType, nprobe.dataType) match {
      case (ArrayType(vt, _), ArrayType(DoubleType, _), IntegerType)
          if vt == FloatType || vt == DoubleType =>
        if (nprobe.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure("graft_centroid_topk: nprobe must be a literal")
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_centroid_topk expects (array<float|double>, array<double>, int), got " +
          s"${vec.dataType} / ${bank.dataType} / ${nprobe.dataType}")
    }

  private def isFloat: Boolean = vec.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(v: Any, b: Any, p: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val bk = b.asInstanceOf[ArrayData]
    val dim = x.numElements()
    val nlist = bk.numElements() / (dim + 1)
    val scores = new Array[Double](nlist)
    var c = 0
    while (c < nlist) {
      val nrm = bk.getDouble(nlist * dim + c)
      if (nrm > 0) {
        var acc = 0.0
        var i = 0
        while (i < dim) {
          val xv = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
          acc += xv * bk.getDouble(c * dim + i)
          i += 1
        }
        scores(c) = acc / nrm
      } else scores(c) = Double.NegativeInfinity
      c += 1
    }
    val np = math.min(p.asInstanceOf[Int], nlist)
    val out = new Array[Int](np)
    val used = new Array[Boolean](nlist)
    var r = 0
    while (r < np) {
      var best = -1
      var bestScore = Double.NegativeInfinity
      var j = 0
      while (j < nlist) {
        if (!used(j) && scores(j) > bestScore) { best = j; bestScore = scores(j) }
        j += 1
      }
      // a NaN-component vector scores NaN against every centroid (and
      // `NaN > x` is false), leaving best = -1 — fall back to the first
      // unused cell so corrupt vectors get a deterministic assignment
      // instead of used[-1] (PathologicalVectorSpec)
      if (best < 0) { best = 0; while (used(best)) best += 1 }
      used(best) = true
      out(r) = best
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, b, p) => {
      val dim = ctx.freshName("dim"); val nlist = ctx.freshName("nlist")
      val scores = ctx.freshName("scores"); val used = ctx.freshName("used")
      val out = ctx.freshName("out"); val np = ctx.freshName("np")
      val c = ctx.freshName("c"); val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val r = ctx.freshName("r"); val acc = ctx.freshName("acc"); val nrm = ctx.freshName("nrm")
      val best = ctx.freshName("best"); val bestScore = ctx.freshName("bestScore")
      val getV = if (isFloat) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
      s"""
         |int $dim = $v.numElements();
         |int $nlist = $b.numElements() / ($dim + 1);
         |double[] $scores = new double[$nlist];
         |for (int $c = 0; $c < $nlist; $c++) {
         |  double $nrm = $b.getDouble($nlist * $dim + $c);
         |  if ($nrm > 0) {
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $dim; $i++) { $acc += $getV * $b.getDouble($c * $dim + $i); }
         |    $scores[$c] = $acc / $nrm;
         |  } else { $scores[$c] = Double.NEGATIVE_INFINITY; }
         |}
         |int $np = java.lang.Math.min($p, $nlist);
         |int[] $out = new int[$np];
         |boolean[] $used = new boolean[$nlist];
         |for (int $r = 0; $r < $np; $r++) {
         |  int $best = -1; double $bestScore = Double.NEGATIVE_INFINITY;
         |  for (int $j = 0; $j < $nlist; $j++) {
         |    if (!$used[$j] && $scores[$j] > $bestScore) { $best = $j; $bestScore = $scores[$j]; }
         |  }
         |  // all-NaN scores leave best = -1: first unused cell (see interpreted)
         |  if ($best < 0) { $best = 0; while ($used[$best]) $best++; }
         |  $used[$best] = true;
         |  $out[$r] = $best;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(vec = newFirst, bank = newSecond, nprobe = newThird)
}

/** Product-quantization encode (the public PQ scheme of Jégou et al.,
  * "Product Quantization for Nearest Neighbor Search", TPAMI 2011):
  * the vector is split into `m` contiguous subvectors of dim/m
  * components and each subvector is replaced by the index of its
  * nearest (squared-L2) codeword in that subspace's codebook — 64
  * floats become m small ints (bytes at ksub ≤ 256), the memory step
  * that makes billion-vector ANN fit RAM. `cb` is the flat codebook
  * bank: entry ((s,c),d) at `(s*ksub + c)*dsub + d`, ksub inferred
  * from the bank length. Ties keep the SMALLEST codeword index
  * (strict `<` scan, the `ROW_NUMBER ... ORDER BY d2, c` order an
  * oracle replays); an all-NaN subvector deterministically takes
  * codeword 0 (the CentroidTopK convention). */
case class PqEncodeExpr(vec: Expression, cb: Expression, m: Expression)
    extends TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = cb
  override def third: Expression = m

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  // a ragged/corrupt row (dim 0, or dim not a multiple of m) has no
  // well-defined encoding: it returns NULL instead of throwing
  // ArithmeticException inside generated code (one bad row must not
  // kill a 100 TB encode job) or silently misreading codewords
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, cb.dataType, m.dataType) match {
      case (ArrayType(vt, _), ArrayType(DoubleType, _), IntegerType)
          if vt == FloatType || vt == DoubleType =>
        if (m.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure("graft_pq_encode: m must be a literal")
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_pq_encode expects (array<float|double>, array<double>, int), got " +
          s"${vec.dataType} / ${cb.dataType} / ${m.dataType}")
    }

  private def isFloat: Boolean = vec.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(v: Any, b: Any, mm: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val bk = b.asInstanceOf[ArrayData]
    val mv = mm.asInstanceOf[Int]
    val dim = x.numElements()
    if (mv <= 0 || dim == 0 || dim % mv != 0) return null
    val dsub = dim / mv
    val ksub = bk.numElements() / (mv * dsub)
    if (ksub == 0) return null // bank shorter than one codeword set
    val out = new Array[Int](mv)
    var s = 0
    while (s < mv) {
      var best = -1
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < ksub) {
        var d2 = 0.0
        var d = 0
        while (d < dsub) {
          val xv = if (isFloat) x.getFloat(s * dsub + d).toDouble
            else x.getDouble(s * dsub + d)
          val diff = xv - bk.getDouble((s * ksub + c) * dsub + d)
          d2 += diff * diff
          d += 1
        }
        if (d2 < bestD) { best = c; bestD = d2 }
        c += 1
      }
      out(s) = if (best < 0) 0 else best
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, b, mm) => {
      val dim = ctx.freshName("dim"); val dsub = ctx.freshName("dsub")
      val ksub = ctx.freshName("ksub"); val out = ctx.freshName("out")
      val s = ctx.freshName("s"); val c = ctx.freshName("c"); val d = ctx.freshName("d")
      val best = ctx.freshName("best"); val bestD = ctx.freshName("bestD")
      val d2 = ctx.freshName("d2"); val diff = ctx.freshName("diff")
      val getV = if (isFloat) s"(double) $v.getFloat($s * $dsub + $d)"
        else s"$v.getDouble($s * $dsub + $d)"
      s"""
         |int $dim = $v.numElements();
         |int $dsub = ($mm > 0 && $dim % $mm == 0) ? $dim / $mm : 0;
         |int $ksub = ($dsub > 0) ? $b.numElements() / ($mm * $dsub) : 0;
         |if ($dsub == 0 || $ksub == 0) {
         |  ${ev.isNull} = true; // ragged row / undersized bank: see nullable
         |} else {
         |  int[] $out = new int[$mm];
         |  for (int $s = 0; $s < $mm; $s++) {
         |    int $best = -1; double $bestD = Double.POSITIVE_INFINITY;
         |    for (int $c = 0; $c < $ksub; $c++) {
         |      double $d2 = 0.0;
         |      for (int $d = 0; $d < $dsub; $d++) {
         |        double $diff = $getV - $b.getDouble(($s * $ksub + $c) * $dsub + $d);
         |        $d2 += $diff * $diff;
         |      }
         |      if ($d2 < $bestD) { $best = $c; $bestD = $d2; }
         |    }
         |    $out[$s] = ($best < 0) ? 0 : $best;
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(vec = newFirst, cb = newSecond, m = newThird)
}

/** The ADC distance table for one query vector: `out[s*ksub + c]` =
  * squared L2 distance between the query's s-th subvector and codeword
  * (s,c) of the flat codebook bank (same layout as [[PqEncodeExpr]]).
  * Computed ONCE per query; the per-candidate ADC score is then m table
  * lookups ([[PqAdcExpr]]) instead of a dim-length float scan —
  * asymmetric distance computation, the PQ probe's whole point. */
case class PqDistTableExpr(vec: Expression, cb: Expression, m: Expression)
    extends TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = cb
  override def third: Expression = m

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  // same ragged-row contract as [[PqEncodeExpr]]: NULL, never a crash
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, cb.dataType, m.dataType) match {
      case (ArrayType(vt, _), ArrayType(DoubleType, _), IntegerType)
          if vt == FloatType || vt == DoubleType =>
        if (m.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure("graft_pq_dists: m must be a literal")
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_pq_dists expects (array<float|double>, array<double>, int), got " +
          s"${vec.dataType} / ${cb.dataType} / ${m.dataType}")
    }

  private def isFloat: Boolean = vec.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(v: Any, b: Any, mm: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val bk = b.asInstanceOf[ArrayData]
    val mv = mm.asInstanceOf[Int]
    val dim = x.numElements()
    if (mv <= 0 || dim == 0 || dim % mv != 0) return null
    val dsub = dim / mv
    val ksub = bk.numElements() / (mv * dsub)
    if (ksub == 0) return null
    val out = new Array[Double](mv * ksub)
    var s = 0
    while (s < mv) {
      var c = 0
      while (c < ksub) {
        var d2 = 0.0
        var d = 0
        while (d < dsub) {
          val xv = if (isFloat) x.getFloat(s * dsub + d).toDouble
            else x.getDouble(s * dsub + d)
          val diff = xv - bk.getDouble((s * ksub + c) * dsub + d)
          d2 += diff * diff
          d += 1
        }
        out(s * ksub + c) = d2
        c += 1
      }
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, b, mm) => {
      val dim = ctx.freshName("dim"); val dsub = ctx.freshName("dsub")
      val ksub = ctx.freshName("ksub"); val out = ctx.freshName("out")
      val s = ctx.freshName("s"); val c = ctx.freshName("c"); val d = ctx.freshName("d")
      val d2 = ctx.freshName("d2"); val diff = ctx.freshName("diff")
      val getV = if (isFloat) s"(double) $v.getFloat($s * $dsub + $d)"
        else s"$v.getDouble($s * $dsub + $d)"
      s"""
         |int $dim = $v.numElements();
         |int $dsub = ($mm > 0 && $dim % $mm == 0) ? $dim / $mm : 0;
         |int $ksub = ($dsub > 0) ? $b.numElements() / ($mm * $dsub) : 0;
         |if ($dsub == 0 || $ksub == 0) {
         |  ${ev.isNull} = true; // ragged row / undersized bank: see nullable
         |} else {
         |  double[] $out = new double[$mm * $ksub];
         |  for (int $s = 0; $s < $mm; $s++) {
         |    for (int $c = 0; $c < $ksub; $c++) {
         |      double $d2 = 0.0;
         |      for (int $d = 0; $d < $dsub; $d++) {
         |        double $diff = $getV - $b.getDouble(($s * $ksub + $c) * $dsub + $d);
         |        $d2 += $diff * $diff;
         |      }
         |      $out[$s * $ksub + $c] = $d2;
         |    }
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(vec = newFirst, cb = newSecond, m = newThird)
}

/** The per-candidate ADC score: Σ_s dt[s*ksub + codes[s]] — m array
  * lookups summed left-to-right in subspace order (the index-order
  * fold every replaying engine agrees on). `codes` is a candidate's
  * [[PqEncodeExpr]] output, `dt` a query's [[PqDistTableExpr]] table;
  * ksub is inferred as dt.length / codes.length. Out-of-range codes
  * are clamped into [0, ksub) so a malformed input row cannot crash
  * generated code. This is the probe's hot path — corpus × queries
  * evaluations — hence codegen'd. */
case class PqAdcExpr(codes: Expression, dt: Expression)
    extends BinaryExpression {

  override def left: Expression = codes
  override def right: Expression = dt

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (codes.dataType, dt.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_pq_adc expects (array<int>, array<double>), got " +
          s"${codes.dataType} / ${dt.dataType}")
    }

  override protected def nullSafeEval(cv: Any, dv: Any): Any = {
    val cs = cv.asInstanceOf[ArrayData]
    val tbl = dv.asInstanceOf[ArrayData]
    val mv = cs.numElements()
    if (mv == 0) return 0.0
    val ksub = tbl.numElements() / mv
    var acc = 0.0
    var s = 0
    while (s < mv) {
      var c = cs.getInt(s)
      if (c < 0) c = 0 else if (c >= ksub) c = ksub - 1
      acc += tbl.getDouble(s * ksub + c)
      s += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (cv, dv) => {
      val mv = ctx.freshName("mv"); val ksub = ctx.freshName("ksub")
      val acc = ctx.freshName("acc"); val s = ctx.freshName("s")
      val c = ctx.freshName("c")
      s"""
         |int $mv = $cv.numElements();
         |double $acc = 0.0;
         |if ($mv > 0) {
         |  int $ksub = $dv.numElements() / $mv;
         |  for (int $s = 0; $s < $mv; $s++) {
         |    int $c = $cv.getInt($s);
         |    if ($c < 0) $c = 0; else if ($c >= $ksub) $c = $ksub - 1;
         |    $acc += $dv.getDouble($s * $ksub + $c);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(codes = newLeft, dt = newRight)
}

/** Elementwise vector subtraction a − b as exact double arithmetic —
  * the residual step of residual IVF-PQ (r = v − centroid(cell), Jégou
  * et al. TPAMI 2011 §IV-A): one codegen'd pass instead of a zip_with
  * lambda per element. float32 inputs widen exactly to double, and
  * IEEE subtraction is exact-deterministic, so residuals replay
  * bit-identically in any engine. Mismatched lengths or a NULL element
  * yield NULL (a ragged pair has no defined residual — the PQ
  * ragged-row contract). */
case class VecSubExpr(a: Expression, b: Expression)
    extends BinaryExpression {

  override def left: Expression = a
  override def right: Expression = b

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(a.dataType) && ok(b.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_vec_sub expects (array<float|double>, array<float|double>), " +
        s"got ${a.dataType} / ${b.dataType}")
  }

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(av: Any, bv: Any): Any = {
    val x = av.asInstanceOf[ArrayData]
    val y = bv.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (isFloat(a)) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (isFloat(b)) y.getFloat(i).toDouble else y.getDouble(i)
      out(i) = xv - yv
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (av, bv) => {
      val n = ctx.freshName("n"); val out = ctx.freshName("out")
      val i = ctx.freshName("i"); val bad = ctx.freshName("bad")
      val getX = if (isFloat(a)) s"(double) $av.getFloat($i)" else s"$av.getDouble($i)"
      val getY = if (isFloat(b)) s"(double) $bv.getFloat($i)" else s"$bv.getDouble($i)"
      s"""
         |int $n = $av.numElements();
         |boolean $bad = ($n != $bv.numElements());
         |double[] $out = $bad ? null : new double[$n];
         |for (int $i = 0; !$bad && $i < $n; $i++) {
         |  if ($av.isNullAt($i) || $bv.isNullAt($i)) { $bad = true; }
         |  else { $out[$i] = $getX - $getY; }
         |}
         |if ($bad) { ${ev.isNull} = true; }
         |else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(a = newLeft, b = newRight)
}

/** Sign-bit binary quantization of the vector slice [from, until):
  * ceil((until-from)/32) long words, bit i of word i>>5 set iff slice
  * element i is "positive" under SPARK's comparison semantics — i.e.
  * strictly > 0 OR NaN (both engines total-order NaN above every real,
  * so `NaN > 0` is TRUE in each; Java's primitive `>` disagrees, hence
  * the explicit isNaN arm). NULL elements and positions beyond the
  * vector's actual length contribute 0 — exactly the portable
  * `element_at(vec, pos+1) > 0` form this replaces
  * ([[graft.functions.similarity.binaryQuantize]]'s interpreted
  * aggregate/transform chain, ~dim×32 lambda closures per row). 32 bits
  * per 64-bit word keeps every value and every xor in [0, 2³²) so the
  * codes replay bit-identically in any engine. `from`/`until` are
  * literals: the full code is [0, dim); [[similarity.hammingPairs]]'
  * pigeonhole bands pack sub-slices. */
case class BinaryQuantizeExpr(vec: Expression, from: Expression,
    until: Expression) extends TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = from
  override def third: Expression = until

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, from.dataType, until.dataType) match {
      case (ArrayType(vt, _), IntegerType, IntegerType)
          if vt == FloatType || vt == DoubleType =>
        if (from.foldable && until.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          "graft_binquant: from/until must be literals")
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_binquant expects (array<float|double>, int, int), got " +
          s"${vec.dataType} / ${from.dataType} / ${until.dataType}")
    }

  private def isFloat: Boolean = vec.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(v: Any, f: Any, u: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val lo = f.asInstanceOf[Int]
    val hi = u.asInstanceOf[Int]
    val n = math.max(0, hi - lo)
    val out = new Array[Long]((n + 31) / 32)
    val stop = math.min(n, math.max(0, x.numElements() - lo))
    var i = 0
    while (i < stop) {
      if (!x.isNullAt(lo + i)) {
        val d = if (isFloat) x.getFloat(lo + i).toDouble else x.getDouble(lo + i)
        if (d > 0.0 || java.lang.Double.isNaN(d)) out(i >> 5) |= 1L << (i & 31)
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, f, u) => {
      val n = ctx.freshName("n"); val out = ctx.freshName("out")
      val stop = ctx.freshName("stop"); val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val getV = if (isFloat) s"(double) $v.getFloat($f + $i)"
        else s"$v.getDouble($f + $i)"
      s"""
         |int $n = java.lang.Math.max(0, $u - $f);
         |long[] $out = new long[($n + 31) / 32];
         |int $stop = java.lang.Math.min($n,
         |  java.lang.Math.max(0, $v.numElements() - $f));
         |for (int $i = 0; $i < $stop; $i++) {
         |  if (!$v.isNullAt($f + $i)) {
         |    double $d = $getV;
         |    if ($d > 0.0 || Double.isNaN($d)) {
         |      $out[$i >> 5] |= 1L << ($i & 31);
         |    }
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(vec = newFirst, from = newSecond, until = newThird)
}

/** Hamming distance between two [[BinaryQuantizeExpr]] codes: Σ popcount
  * of the per-word xor — one xor + Long.bitCount per word instead of the
  * interpreted zip_with/aggregate lambda chain. Contract matches the
  * portable form exactly: codes of UNEQUAL length (or with a NULL word)
  * yield NULL — zip_with pads the shorter side with nulls and the null
  * poisons the fold — so a caller mixing code widths sees missing
  * values, never a silently-truncated distance. */
case class HammingDistExpr(a: Expression, b: Expression)
    extends BinaryExpression {

  override def left: Expression = a
  override def right: Expression = b

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (a.dataType, b.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_hamming expects (array<bigint>, array<bigint>), got " +
          s"${a.dataType} / ${b.dataType}")
    }

  override protected def nullSafeEval(av: Any, bv: Any): Any = {
    val x = av.asInstanceOf[ArrayData]
    val y = bv.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += java.lang.Long.bitCount(x.getLong(i) ^ y.getLong(i))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (av, bv) => {
      val n = ctx.freshName("n"); val acc = ctx.freshName("acc")
      val i = ctx.freshName("i"); val bad = ctx.freshName("bad")
      s"""
         |int $n = $av.numElements();
         |long $acc = 0L;
         |boolean $bad = ($n != $bv.numElements());
         |for (int $i = 0; !$bad && $i < $n; $i++) {
         |  if ($av.isNullAt($i) || $bv.isNullAt($i)) { $bad = true; }
         |  else { $acc += java.lang.Long.bitCount($av.getLong($i) ^ $bv.getLong($i)); }
         |}
         |if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(a = newLeft, b = newRight)
}

/** Deflate (zlib raw, level 6) compression ratio of the UTF-8 text:
  * compressed bytes / raw bytes — the Gopher-family redundancy signal
  * (repetitive boilerplate compresses far below natural prose; random
  * character soup approaches or exceeds 1). Null text → null; empty
  * text → 1.0 by convention. Engine-native: no cross-engine oracle
  * (DuckDB has no deflate), deterministic for a fixed zlib level and
  * strategy. Codegen emits one static call per row; the Deflater is
  * held in a ThreadLocal and `reset()` per row — one native allocation
  * per task thread for the whole scan, never per row, and still
  * leak-free (a thread's Deflater lives exactly as long as the
  * executor thread that owns it). */
/** BPE segmentation against a RUNTIME merge table — the loop-based
  * kernel behind [[graft.functions.bpe.segmentFast]]. Semantics are
  * IDENTICAL to the expression-chained [[graft.functions.bpe.segment]]
  * (one greedy left-to-right pass per merge, in rank order; lowercase
  * tokens only, others pass through whole — cross-checked in
  * ExtensionsSpec), but the merge table is one broadcast-referenced
  * object instead of `numMerges` nested Catalyst expressions: a
  * production tokenizer's 1k–32k rules would blow past Janino's method
  * limits and quadratic analysis as a chain, while here the rule count
  * never touches plan size. Per token the work is rank-ordered with a
  * pending set — only ranks whose pair actually OCCURS (initially, or
  * created by an earlier merge) run a pass, so a 32k-rule table costs
  * O(pairs present), not O(rules). */
case class BpeSegmentExpr(tok: Expression, merges: Expression)
    extends BinaryExpression {

  override def left: Expression = tok
  override def right: Expression = merges

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (tok.dataType, merges.dataType) match {
      case (StringType, ArrayType(StringType, _)) =>
        if (merges.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          "graft_bpe_segment: merges must be a literal array")
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_bpe_segment expects (string, array<string> of flattened " +
          s"lhs,rhs pairs), got ${tok.dataType} / ${merges.dataType}")
    }

  @transient private lazy val plan: BpeSegmentExpr.Plan = {
    val arr = merges.eval().asInstanceOf[ArrayData]
    require(arr != null && arr.numElements() % 2 == 0,
      "graft_bpe_segment: merges must be non-null with an even length " +
        "(flattened lhs,rhs pairs)")
    val n = arr.numElements() / 2
    val a = new Array[String](n); val b = new Array[String](n)
    var i = 0
    while (i < n) {
      a(i) = arr.getUTF8String(2 * i).toString
      b(i) = arr.getUTF8String(2 * i + 1).toString
      i += 1
    }
    new BpeSegmentExpr.Plan(a, b)
  }

  override protected def nullSafeEval(t: Any, m: Any): Any =
    BpeSegmentExpr.compute(
      t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], plan)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planRef = ctx.addReferenceObj("bpePlan", plan,
      classOf[BpeSegmentExpr.Plan].getName)
    nullSafeCodeGen(ctx, ev, (t, _) =>
      s"${ev.value} = graft.plans.BpeSegmentExpr.compute($t, $planRef);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(tok = newLeft, merges = newRight)
}

object BpeSegmentExpr {

  /** Precompiled merge table: rules by rank plus a pair → ranks index
    * (a pair can recur at several ranks). Built once per plan on the
    * driver, shipped as a codegen reference object. */
  final class Plan(val a: Array[String], val b: Array[String])
      extends Serializable {
    val byPair: java.util.HashMap[String, Array[Int]] = {
      val m = new java.util.HashMap[String, java.util.ArrayList[Integer]]()
      var i = 0
      while (i < a.length) {
        val k = a(i) + " " + b(i)
        var l = m.get(k)
        if (l == null) { l = new java.util.ArrayList[Integer](); m.put(k, l) }
        l.add(i)
        i += 1
      }
      val out = new java.util.HashMap[String, Array[Int]]()
      m.forEach((k, l) => {
        val arr = new Array[Int](l.size)
        var j = 0
        while (j < arr.length) { arr(j) = l.get(j); j += 1 }
        out.put(k, arr)
        ()
      })
      out
    }
  }

  private def isLowerAlpha(s: String): Boolean = {
    if (s.isEmpty) return false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < 'a' || c > 'z') return false
      i += 1
    }
    true
  }

  /** static so generated code can call it directly (one invoke per row).
    *
    * Equivalence to the sequential one-pass-per-rank fold: rank r fires
    * exactly when its pair occurs in the state after ranks < r — here a
    * rank enters `pending` when its pair occurs (seeding, or rescan
    * after an APPLYING pass adds only ranks > the applied one), and a
    * rank whose pair was consumed before its turn runs a no-op pass —
    * both directions match the fold. A merged symbol never re-matches
    * as lhs within its own pass (a+b ≠ a), also matching the fold. */
  def compute(tok: org.apache.spark.unsafe.types.UTF8String,
      plan: Plan): ArrayData = {
    val s = tok.toString
    if (!isLowerAlpha(s))
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(s)))
    val syms = new Array[String](s.length)
    var i = 0
    while (i < s.length) { syms(i) = String.valueOf(s.charAt(i)); i += 1 }
    var n = s.length
    val pending = new java.util.TreeSet[Integer]()
    def seedPairs(minRank: Int): Unit = {
      var j = 0
      while (j < n - 1) {
        val ranks = plan.byPair.get(syms(j) + " " + syms(j + 1))
        if (ranks != null) {
          var k = 0
          while (k < ranks.length) {
            if (ranks(k) > minRank) { pending.add(ranks(k)); () }
            k += 1
          }
        }
        j += 1
      }
    }
    seedPairs(-1)
    while (!pending.isEmpty) {
      val r = pending.pollFirst().intValue()
      val a = plan.a(r); val b = plan.b(r)
      // one greedy left-to-right pass for rank r, compacting in place
      var w = 0; var rd = 0; var changed = false
      while (rd < n) {
        if (w > 0 && syms(w - 1) == a && syms(rd) == b) {
          syms(w - 1) = a + b; changed = true
        } else { syms(w) = syms(rd); w += 1 }
        rd += 1
      }
      if (changed) {
        n = w
        // new adjacencies may enable LATER ranks only
        seedPairs(r)
      }
    }
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      out(i) = org.apache.spark.unsafe.types.UTF8String.fromString(syms(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

case class DeflateRatioExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_deflate_ratio expects string, got $t")
  }

  override protected def nullSafeEval(t: Any): Any =
    DeflateRatioExpr.compute(t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.plans.DeflateRatioExpr.compute($t);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DeflateRatioExpr {
  private val deflaterLocal =
    ThreadLocal.withInitial[java.util.zip.Deflater](() =>
      new java.util.zip.Deflater(6, true))

  /** static so generated code can call it directly (one invoke per row). */
  def compute(text: org.apache.spark.unsafe.types.UTF8String): Double = {
    val raw = text.getBytes
    if (raw.length == 0) return 1.0
    val d = deflaterLocal.get()
    d.reset()
    d.setInput(raw); d.finish()
    val buf = new Array[Byte](8192)
    var out = 0L
    while (!d.finished()) out += d.deflate(buf)
    out.toDouble / raw.length
  }
}

/** Unicode normalization (NFC / NFD / NFKC / NFKD) via
  * `java.text.Normalizer` — the canonicalization pass a crawl corpus
  * needs before fingerprinting or dedup (the same text arrives composed
  * from one site and decomposed from another; un-normalized they hash
  * apart). The form is a foldable string literal resolved once at plan
  * time. ASCII fast path: a string whose byte count equals its
  * codepoint count is pure ASCII, invariant under every form — returned
  * as-is with no String round-trip, so the 100 TB mostly-ASCII scan
  * pays one integer compare per row, not an allocation. Oracle: DuckDB
  * `nfc_normalize` (NFC only; other forms are spec-covered). */
case class UnicodeNormalizeExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) if right.foldable =>
        val name = right.eval() match {
          case null => null
          case s => s.toString
        }
        if (name != null && UnicodeNormalizeExpr.Forms.contains(name))
          TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"graft_normalize form must be one of ${UnicodeNormalizeExpr.Forms.keys.mkString("/")}, got $name")
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_normalize expects (string, foldable string form)")
    }

  private lazy val form: java.text.Normalizer.Form =
    UnicodeNormalizeExpr.Forms(right.eval().toString)

  override protected def nullSafeEval(t: Any, f: Any): Any =
    UnicodeNormalizeExpr.compute(
      t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], form)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val formRef = ctx.addReferenceObj("normForm", form,
      classOf[java.text.Normalizer.Form].getName)
    nullSafeCodeGen(ctx, ev, (t, _) =>
      s"${ev.value} = graft.plans.UnicodeNormalizeExpr.compute($t, $formRef);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object UnicodeNormalizeExpr {
  val Forms: Map[String, java.text.Normalizer.Form] =
    java.text.Normalizer.Form.values().map(f => f.name -> f).toMap

  /** static so generated code calls it directly (one invoke per row). */
  def compute(t: org.apache.spark.unsafe.types.UTF8String,
      form: java.text.Normalizer.Form): org.apache.spark.unsafe.types.UTF8String = {
    // pure ASCII (bytes == codepoints) is normalization-invariant
    if (t.numBytes() == t.numChars()) return t
    val s = t.toString
    if (java.text.Normalizer.isNormalized(s, form)) t
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(s, form))
  }
}

/** Accent stripping: NFD-decompose, drop combining marks (general
  * categories Mn/Mc/Me), NFC-recompose the rest — `café` → `cafe`,
  * `İstanbul` → `Istanbul`, while `ß` (not an accented letter) is left
  * alone. Matches DuckDB `strip_accents` on Latin text, which is the
  * oracle. Same ASCII fast path as [[UnicodeNormalizeExpr]]. */
case class StripAccentsExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_strip_accents expects string, got $t")
  }

  override protected def nullSafeEval(t: Any): Any =
    StripAccentsExpr.compute(t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.plans.StripAccentsExpr.compute($t);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object StripAccentsExpr {
  def compute(t: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    if (t.numBytes() == t.numChars()) return t
    val d = java.text.Normalizer.normalize(t.toString, java.text.Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(d.length)
    var i = 0
    while (i < d.length) {
      val cp = d.codePointAt(i)
      val tp = Character.getType(cp)
      if (tp != Character.NON_SPACING_MARK && tp != Character.COMBINING_SPACING_MARK &&
          tp != Character.ENCLOSING_MARK) sb.appendCodePoint(cp)
      i += Character.charCount(cp)
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(sb.toString, java.text.Normalizer.Form.NFC))
  }
}

/** Single-pass L2 unit-normalization of an embedding array. The
  * built-in form `transform(v, x -> x / sqrt(dot(v, v)))` re-inlines
  * the norm into the lambda, so the interpreted evaluator recomputes
  * the FULL dot product for every element — O(dim²) multiplies per row
  * (Catalyst has no let-binding for lambda-captured aggregates). This
  * expression computes the norm once and divides once: O(dim), in
  * generated code. Semantics match [[graft.functions.similarity]]'s
  * portable form exactly: double accumulation in index order, zero or
  * all-null vectors divide by 0.0 → ±Infinity/NaN identically; null
  * elements stay null. */
case class UnitNormalizeExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_l2_normalize expects array<float|double>, got $t")
  }

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(a: Any): Any =
    UnitNormalizeExpr.compute(a.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.UnitNormalizeExpr.compute($a, $isFloat);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object UnitNormalizeExpr {
  def compute(a: ArrayData, isFloat: Boolean): ArrayData = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val v = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        s += v * v
      }
      i += 1
    }
    val nrm = math.sqrt(s)
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val v = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        out(i) = v / nrm
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Single-pass per-vector int8 quantization: affine-map [min, max] onto
  * [-127, 127], round half-up — the same algorithm as the portable
  * `transform` form in [[graft.functions.similarity.quantizeInt8Portable]],
  * which recomputes array_min/array_max per ELEMENT when interpreted
  * (the lambda-capture re-inlining problem again, O(dim²)). One min/max
  * pass + one map pass in generated code. Rounding goes through
  * BigDecimal HALF_UP exactly like Spark's `round`, so outputs are
  * bit-identical to the built-in form and the DuckDB oracle. */
case class Int8QuantizeExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_quantize_int8 expects array<float|double>, got $t")
  }

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(a: Any): Any =
    Int8QuantizeExpr.compute(a.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.Int8QuantizeExpr.compute($a, $isFloat);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Int8QuantizeExpr {
  /** Non-finite policy (PathologicalVectorSpec; mirrored by the portable
    * form): the affine range is computed over FINITE elements only, a
    * NaN element quantizes to null (it carries no information),
    * ±Infinity clamp to ±127. Without the policy a single NaN component
    * crashed the row (BigDecimal.valueOf(NaN)). */
  def compute(a: ArrayData, isFloat: Boolean): ArrayData = {
    val n = a.numElements()
    var mn = Double.PositiveInfinity
    var mx = Double.NegativeInfinity
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val v = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        if (!v.isNaN && !v.isInfinite) {
          if (v < mn) mn = v
          if (v > mx) mx = v
        }
      }
      i += 1
    }
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val v = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        out(i) =
          if (v.isNaN) null
          else if (v == Double.PositiveInfinity) 127
          else if (v == Double.NegativeInfinity) -127
          else if (mx == mn) 0
          else java.math.BigDecimal.valueOf((v - mn) / (mx - mn) * 254.0)
            .setScale(0, java.math.RoundingMode.HALF_UP).intValue() - 127
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** True iff ANY element of the string array is in a CONSTANT string
  * set — the zero-shuffle membership test behind domain-blocklist
  * filtering. The right child must be a foldable array<string>; it is
  * folded ONCE into a hash set that rides the plan as a reference
  * object (one set per stage, shared by every task in the JVM — never
  * rebuilt per row, unlike `array_intersect` against a literal array,
  * which re-hashes the constant side on every invocation). For
  * blocklists too large to ride a plan ((tens of MB+), use the
  * join-based [[graft.functions.text.filterBlockedDomainsLarge]]
  * instead. */
case class StringArrayAnyInSet(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_any_in_set expects (array<string>, foldable array<string>)")
    }

  private lazy val set: java.util.HashSet[org.apache.spark.unsafe.types.UTF8String] = {
    val s = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
    val arr = right.eval().asInstanceOf[ArrayData]
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) s.add(arr.getUTF8String(i).clone())
      i += 1
    }
    s
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i) && set.contains(arr.getUTF8String(i))) return true
      i += 1
    }
    false
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("blockSet", set, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, (a, _) => {
      val i = ctx.freshName("i"); val found = ctx.freshName("found")
      s"""
         |boolean $found = false;
         |for (int $i = 0; $i < $a.numElements() && !$found; $i++) {
         |  if (!$a.isNullAt($i) && $setRef.contains($a.getUTF8String($i))) {
         |    $found = true;
         |  }
         |}
         |${ev.value} = $found;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Count of array<long> elements that MIGHT be in a Bloom filter — the
  * map-side pre-filter for decontamination when the benchmark
  * fingerprint set is too large to broadcast exactly (hundreds of
  * millions of n-grams: an exact long set is gigabytes, the 1%-fpp
  * filter is ~1.2 bytes/item). No false negatives by construction, so
  * `count == 0` PROVES zero overlap and only might-contain suspects
  * (true hits + ~fpp of clean rows) continue to exact verification.
  *
  * The filter is CONSTRUCTOR state, not a child expression (a literal
  * child would ride the plan twice — once in the tree, once
  * deserialized); built via the [[org.apache.spark.sql.graftbridge]]
  * bridge, not the function registry. Codegen references the expression
  * itself, so the serialized bits exist once in the task binary (object
  *-graph dedup) and deserialize lazily once per executor JVM. */
case class LongArrayBloomCount(child: Expression, bfBytes: Array[Byte])
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft bloom count expects array<bigint>, got $t")
  }

  @transient private lazy val bf: org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bfBytes))

  /** public: generated code calls it through a reference to `this`. */
  def bloomCount(a: ArrayData): Long = {
    var i = 0; var n = 0L
    while (i < a.numElements()) {
      if (!a.isNullAt(i) && bf.mightContainLong(a.getLong(i))) n += 1
      i += 1
    }
    n
  }

  override protected def nullSafeEval(a: Any): Any =
    bloomCount(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomExpr", this,
      classOf[LongArrayBloomCount].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.bloomCount($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Bounded-heap top-k aggregate: keeps the k best `(score, id)` pairs
  * under the total order (score DESC, id ASC) and returns them as a
  * sorted array of structs — rank = array position + 1.
  *
  * This is the scale-right replacement for ranking a scored candidate
  * stream with `row_number() OVER (PARTITION BY q_id ...)`: a window
  * must shuffle EVERY scored candidate to its query's tasks before any
  * can be discarded, while an aggregate map-side-combines — each
  * partial buffer holds at most k pairs, so the shuffle carries k rows
  * per (query, input task) no matter how many candidates a query
  * accumulates. Null scores are skipped (they cannot outrank anything).
  *
  * The score's own type ordering is used (Double or exact Decimal), so
  * rank ties resolve identically to the SQL `ORDER BY score DESC, id`
  * an oracle replays. Partial buffers serialize through an
  * UnsafeProjection of (score, id), making the aggregate usable at any
  * grouping cardinality (beyond ObjectHashAggregate's per-task distinct
  * -group fallback threshold the partial switches to sort-BY-KEY
  * aggregation — shuffle volume stays k per group per task either way). */
case class BoundedTopK(score: Expression, id: Expression, k: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[BoundedTopK.Buffer] {

  private lazy val kVal: Int = k.eval().asInstanceOf[Number].intValue()
  private lazy val ord: Ordering[Any] =
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(score.dataType)

  override def children: Seq[Expression] = Seq(score, id, k)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(score = newChildren(0), id = newChildren(1), k = newChildren(2))
  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedTopK =
    copy(inputAggBufferOffset = newOffset)

  override def nullable: Boolean = false
  // neutral field names: the aggregate is registered as a general
  // `graft_topk` SQL function, so the struct must not leak the
  // similarity caller's vocabulary (consumers re-alias as needed)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", score.dataType), StructField("id", LongType))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    if (!RowOrdering.isOrderable(score.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"graft_topk: score type ${score.dataType} is not orderable")
    else if (id.dataType != LongType)
      TypeCheckResult.TypeCheckFailure("graft_topk: id must be BIGINT")
    else if (k.dataType != IntegerType || !k.foldable || k.eval() == null)
      TypeCheckResult.TypeCheckFailure("graft_topk: k must be a literal INT")
    else if (k.eval().asInstanceOf[Number].intValue() < 1)
      TypeCheckResult.TypeCheckFailure("graft_topk: k must be >= 1")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def createAggregationBuffer(): BoundedTopK.Buffer =
    new BoundedTopK.Buffer(kVal, ord)

  override def update(buf: BoundedTopK.Buffer,
      input: org.apache.spark.sql.catalyst.InternalRow): BoundedTopK.Buffer = {
    val s = score.eval(input)
    if (s != null) {
      val i = id.eval(input)
      // copyValue: a buffer-backed score (UTF8String/struct slices point
      // into the scan's reused row buffer) must not mutate after it is
      // kept; for Double/Decimal this is a no-op reference return
      if (i != null && buf.mightKeep(s))
        buf.insert(org.apache.spark.sql.catalyst.InternalRow.copyValue(s),
          i.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: BoundedTopK.Buffer,
      other: BoundedTopK.Buffer): BoundedTopK.Buffer = {
    other.heap.foreach { case (s, i) => buf.insert(s, i) }
    buf
  }

  override def eval(buf: BoundedTopK.Buffer): Any = {
    // best-first: score desc, id asc
    val sorted = buf.heap.toArray.sortWith { (a, b) =>
      val c = ord.compare(a._1, b._1)
      if (c != 0) c > 0 else a._2 < b._2
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      sorted.map { case (s, i) =>
        org.apache.spark.sql.catalyst.InternalRow(s, i)
      }.toArray[Any])
  }

  // per-task-instance projection: serialize runs once per (group,
  // partial buffer); regenerating the projection there would dominate
  @transient private lazy val serProj =
    UnsafeProjection.create(Array[DataType](score.dataType, LongType))

  override def serialize(buf: BoundedTopK.Buffer): Array[Byte] = {
    val proj = serProj
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.heap.size)
    buf.heap.foreach { case (s, i) =>
      val row = proj.apply(org.apache.spark.sql.catalyst.InternalRow(s, i))
      out.writeInt(row.getSizeInBytes)
      out.write(row.getBytes)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): BoundedTopK.Buffer = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    var j = 0
    while (j < n) {
      val len = in.readInt()
      val rowBytes = new Array[Byte](len)
      in.readFully(rowBytes)
      val row = new UnsafeRow(2)
      row.pointTo(rowBytes, len)
      buf.insert(row.get(0, score.dataType), row.getLong(1))
      j += 1
    }
    buf
  }

  override def prettyName: String = "graft_topk"
}

object BoundedTopK {
  /** Max-heap whose HEAD is the worst kept pair (lowest score, then
    * largest id) — a candidate beats the head or is dropped in O(1). */
  final class Buffer(k: Int, ord: Ordering[Any]) {
    private val worstFirst: Ordering[(Any, Long)] = new Ordering[(Any, Long)] {
      def compare(a: (Any, Long), b: (Any, Long)): Int = {
        val c = ord.compare(a._1, b._1)
        if (c != 0) -c else java.lang.Long.compare(a._2, b._2)
      }
    }
    val heap: scala.collection.mutable.PriorityQueue[(Any, Long)] =
      scala.collection.mutable.PriorityQueue.empty[(Any, Long)](worstFirst)
    /** Allocation-free pre-check for the hot path: can (s, _) still
      * enter the heap? False only when the heap is full and s scores
      * strictly below the worst kept pair — the overwhelming majority
      * of candidates on a corpus scan. Ties return true conservatively
      * (insert resolves them by id). Lets callers skip value-copying
      * and tuple allocation for sure losers. */
    def mightKeep(s: Any): Boolean =
      heap.size < k || ord.compare(s, heap.head._1) >= 0
    def insert(s: Any, i: Long): Unit = {
      if (heap.size < k) heap.enqueue((s, i))
      else if (worstFirst.compare((s, i), heap.head) < 0) {
        heap.dequeue(); heap.enqueue((s, i))
      }
    }
  }
}

/** Misra–Gries heavy-hitters sketch as a mergeable
  * `TypedImperativeAggregate` — `graft_heavy_hitters(item, capacity, k)`
  * returns the k largest surviving counters as a sorted
  * `array<struct<item string, cnt bigint>>` (order: cnt DESC, item ASC
  * by binary string compare — the tie order a SQL
  * `ORDER BY cnt DESC, item` replays).
  *
  * Why an aggregate and not `GROUP BY item ORDER BY count DESC LIMIT k`:
  * the group-by shuffles at ITEM grain — every distinct token of a
  * 100 TB corpus crosses the wire once per map partition. The sketch
  * map-side-combines into a buffer of at most `capacity` counters, so
  * the shuffle carries ≤ capacity rows per input task regardless of
  * corpus vocabulary, and the final merge is one bounded reduce.
  *
  * Guarantees (the public Misra–Gries 1982 bounds; merge rule after
  * Agarwal et al., "Mergeable Summaries", PODS 2012): every reported
  * count is a LOWER bound on the true frequency, within N/(capacity+1)
  * of it (N = total items); any item with true frequency >
  * N/(capacity+1) survives the sketch. When the number of distinct
  * items never exceeds `capacity` no counter is ever decremented and
  * the result is EXACT — the regime the cross-engine oracle runs in;
  * the approximate regime is pinned by HeavyHittersSpec. NULL items are
  * skipped. `capacity` and `k` must be literal INTs >= 1.
  */
case class HeavyHitters(item: Expression, capacity: Expression, k: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[HeavyHitters.Buffer] {

  private lazy val capVal: Int = capacity.eval().asInstanceOf[Number].intValue()
  private lazy val kVal: Int = k.eval().asInstanceOf[Number].intValue()

  override def children: Seq[Expression] = Seq(item, capacity, k)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(item = newChildren(0), capacity = newChildren(1), k = newChildren(2))
  override def withNewMutableAggBufferOffset(newOffset: Int): HeavyHitters =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HeavyHitters =
    copy(inputAggBufferOffset = newOffset)

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType), StructField("cnt", LongType))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    if (item.dataType != StringType)
      TypeCheckResult.TypeCheckFailure("graft_heavy_hitters: item must be STRING")
    else if (capacity.dataType != IntegerType || !capacity.foldable ||
        capacity.eval() == null ||
        capacity.eval().asInstanceOf[Number].intValue() < 1)
      TypeCheckResult.TypeCheckFailure(
        "graft_heavy_hitters: capacity must be a literal INT >= 1")
    else if (k.dataType != IntegerType || !k.foldable || k.eval() == null ||
        k.eval().asInstanceOf[Number].intValue() < 1)
      TypeCheckResult.TypeCheckFailure(
        "graft_heavy_hitters: k must be a literal INT >= 1")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def createAggregationBuffer(): HeavyHitters.Buffer =
    new HeavyHitters.Buffer(capVal)

  override def update(buf: HeavyHitters.Buffer,
      input: org.apache.spark.sql.catalyst.InternalRow): HeavyHitters.Buffer = {
    val it = item.eval(input)
    // the UTF8String is buffer-backed; Buffer.add clones only on first
    // insert (the common hit path increments an existing counter)
    if (it != null) buf.add(it.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    buf
  }

  override def merge(buf: HeavyHitters.Buffer,
      other: HeavyHitters.Buffer): HeavyHitters.Buffer = {
    buf.mergeFrom(other)
    buf
  }

  override def eval(buf: HeavyHitters.Buffer): Any = {
    val sorted = buf.entries.sortWith { (a, b) =>
      if (a._2 != b._2) a._2 > b._2 else a._1.compareTo(b._1) < 0
    }.take(kVal)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      sorted.map { case (s, c) =>
        org.apache.spark.sql.catalyst.InternalRow(s, c)
      }.toArray[Any])
  }

  override def serialize(buf: HeavyHitters.Buffer): Array[Byte] = {
    val es = buf.entries
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(es.length)
    es.foreach { case (s, c) =>
      val bytes = s.getBytes
      out.writeInt(bytes.length)
      out.write(bytes)
      out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): HeavyHitters.Buffer = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    var j = 0
    while (j < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf.put(org.apache.spark.unsafe.types.UTF8String.fromBytes(b), in.readLong())
      j += 1
    }
    buf
  }

  override def prettyName: String = "graft_heavy_hitters"
}

object HeavyHitters {
  import org.apache.spark.unsafe.types.UTF8String

  /** At most `cap` (item → count) counters. Hits increment; misses
    * insert while room remains, else decrement EVERY counter by one and
    * drop zeros (the arriving item is not inserted) — the classic
    * Misra–Gries step. Each decrement sweep costs O(cap) but consumes
    * cap+1 units of arrived count, so total update work is O(N). */
  final class Buffer(cap: Int) {
    private val map = new java.util.HashMap[UTF8String, java.lang.Long]()

    def add(s: UTF8String): Unit = {
      val cur = map.get(s)
      if (cur ne null) map.put(s, java.lang.Long.valueOf(cur.longValue + 1L))
      else if (map.size < cap) map.put(s.clone(), java.lang.Long.valueOf(1L))
      else decrementAll()
    }

    /** raw insert for merge/deserialize (s already owned by caller). */
    def put(s: UTF8String, c: Long): Unit = {
      val cur = map.get(s)
      val v = if (cur ne null) cur.longValue + c else c
      map.put(s, java.lang.Long.valueOf(v))
    }

    private def decrementAll(): Unit = {
      val it = map.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val v = e.getValue.longValue
        if (v <= 1L) it.remove()
        else e.setValue(java.lang.Long.valueOf(v - 1L))
      }
    }

    /** Mergeable-summaries combine: sum counters, then if over capacity
      * subtract the (cap+1)-th largest count from all and drop <= 0 —
      * restores size <= cap while keeping the N/(cap+1) error bound. */
    def mergeFrom(other: Buffer): Unit = {
      other.map.forEach((s, c) => put(s, c.longValue))
      if (map.size > cap) {
        val counts = new Array[Long](map.size)
        var i = 0
        val vi = map.values().iterator()
        while (vi.hasNext) { counts(i) = vi.next().longValue; i += 1 }
        java.util.Arrays.sort(counts)
        // (cap+1)-th largest = counts[size - cap - 1] ascending
        val sub = counts(counts.length - cap - 1)
        val it = map.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val v = e.getValue.longValue
          if (v <= sub) it.remove()
          else e.setValue(java.lang.Long.valueOf(v - sub))
        }
      }
    }

    def entries: Array[(UTF8String, Long)] = {
      val out = new Array[(UTF8String, Long)](map.size)
      var i = 0
      val it = map.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        out(i) = (e.getKey, e.getValue.longValue)
        i += 1
      }
      out
    }
  }
}

/** Session extensions registering graft's native functions; install with
  * `SparkSession.builder().withExtensions(new GraftExtensions)` (all graft
  * entry points do). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => PercentileFusion)
    e.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[ArrayDotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => ArrayDotProduct(children(0), children(1))))
    e.injectFunction((
      new FunctionIdentifier("graft_intersect_count"),
      new ExpressionInfo(classOf[SortedLongIntersectCount].getName, "graft_intersect_count"),
      (children: Seq[Expression]) => SortedLongIntersectCount(children(0), children(1))))
    e.injectFunction((
      new FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[SimHash64FromHashes].getName, "graft_simhash64"),
      (children: Seq[Expression]) => SimHash64FromHashes(children(0))))
    e.injectFunction((
      new FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashesExpr].getName, "graft_shingle_hashes"),
      (children: Seq[Expression]) => ShingleHashesExpr(children(0), children(1))))
    e.injectFunction((
      new FunctionIdentifier("graft_top_ngram_share"),
      new ExpressionInfo(classOf[TopNgramShareExpr].getName, "graft_top_ngram_share"),
      (children: Seq[Expression]) => TopNgramShareExpr(children(0), children(1))))
    e.injectFunction((
      new FunctionIdentifier("graft_gopher_stats"),
      new ExpressionInfo(classOf[GopherStatsExpr].getName, "graft_gopher_stats"),
      (children: Seq[Expression]) => GopherStatsExpr(children(0))))
    e.injectFunction((
      new FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[ShingleStringsExpr].getName, "graft_shingles"),
      (children: Seq[Expression]) => ShingleStringsExpr(children(0), children(1))))
    e.injectFunction((
      new FunctionIdentifier("graft_shingle_fp64"),
      new ExpressionInfo(classOf[ShingleFp64Expr].getName, "graft_shingle_fp64"),
      (children: Seq[Expression]) => ShingleFp64Expr(children(0), children(1))))
    e.injectFunction((
      new FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashFromHashes].getName, "graft_minhash"),
      (children: Seq[Expression]) => MinHashFromHashes(children(0), children(1))))
    e.injectFunction((
      new FunctionIdentifier("graft_minhash_portable"),
      new ExpressionInfo(classOf[MinHashPortableExpr].getName, "graft_minhash_portable"),
      (children: Seq[Expression]) => MinHashPortableExpr(children(0), children(1))))
    e.injectFunction((
      new FunctionIdentifier("graft_centroid_topk"),
      new ExpressionInfo(classOf[CentroidTopK].getName, "graft_centroid_topk"),
      (children: Seq[Expression]) => CentroidTopK(children(0), children(1), children(2))))
    e.injectFunction((
      new FunctionIdentifier("graft_hyperplane_buckets"),
      new ExpressionInfo(classOf[HyperplaneBuckets].getName, "graft_hyperplane_buckets"),
      (children: Seq[Expression]) => HyperplaneBuckets(children(0), children(1), children(2))))
    e.injectFunction((
      new FunctionIdentifier("graft_pq_encode"),
      new ExpressionInfo(classOf[PqEncodeExpr].getName, "graft_pq_encode"),
      (children: Seq[Expression]) => PqEncodeExpr(children(0), children(1), children(2))))
    e.injectFunction((
      new FunctionIdentifier("graft_pq_dists"),
      new ExpressionInfo(classOf[PqDistTableExpr].getName, "graft_pq_dists"),
      (children: Seq[Expression]) => PqDistTableExpr(children(0), children(1), children(2))))
    e.injectFunction((
      new FunctionIdentifier("graft_pq_adc"),
      new ExpressionInfo(classOf[PqAdcExpr].getName, "graft_pq_adc"),
      (children: Seq[Expression]) => PqAdcExpr(children(0), children(1))))
    e.injectFunction((
      new FunctionIdentifier("graft_vec_sub"),
      new ExpressionInfo(classOf[VecSubExpr].getName, "graft_vec_sub"),
      (children: Seq[Expression]) => VecSubExpr(children(0), children(1))))
    e.injectFunction((
      new FunctionIdentifier("graft_binquant"),
      new ExpressionInfo(classOf[BinaryQuantizeExpr].getName, "graft_binquant"),
      (children: Seq[Expression]) =>
        BinaryQuantizeExpr(children(0), children(1), children(2))))
    e.injectFunction((
      new FunctionIdentifier("graft_hamming"),
      new ExpressionInfo(classOf[HammingDistExpr].getName, "graft_hamming"),
      (children: Seq[Expression]) => HammingDistExpr(children(0), children(1))))
    e.injectFunction((
      new FunctionIdentifier("graft_bpe_segment"),
      new ExpressionInfo(classOf[BpeSegmentExpr].getName, "graft_bpe_segment"),
      (children: Seq[Expression]) => BpeSegmentExpr(children(0), children(1))))
    e.injectFunction((
      new FunctionIdentifier("graft_deflate_ratio"),
      new ExpressionInfo(classOf[DeflateRatioExpr].getName, "graft_deflate_ratio"),
      (children: Seq[Expression]) => DeflateRatioExpr(children(0))))
    e.injectFunction((
      new FunctionIdentifier("graft_normalize"),
      new ExpressionInfo(classOf[UnicodeNormalizeExpr].getName, "graft_normalize"),
      (children: Seq[Expression]) => UnicodeNormalizeExpr(children(0), children(1))))
    e.injectFunction((
      new FunctionIdentifier("graft_strip_accents"),
      new ExpressionInfo(classOf[StripAccentsExpr].getName, "graft_strip_accents"),
      (children: Seq[Expression]) => StripAccentsExpr(children(0))))
    e.injectFunction((
      new FunctionIdentifier("graft_any_in_set"),
      new ExpressionInfo(classOf[StringArrayAnyInSet].getName, "graft_any_in_set"),
      (children: Seq[Expression]) => StringArrayAnyInSet(children(0), children(1))))
    e.injectFunction((
      new FunctionIdentifier("graft_l2_normalize"),
      new ExpressionInfo(classOf[UnitNormalizeExpr].getName, "graft_l2_normalize"),
      (children: Seq[Expression]) => UnitNormalizeExpr(children(0))))
    e.injectFunction((
      new FunctionIdentifier("graft_quantize_int8"),
      new ExpressionInfo(classOf[Int8QuantizeExpr].getName, "graft_quantize_int8"),
      (children: Seq[Expression]) => Int8QuantizeExpr(children(0))))
    e.injectFunction((
      new FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[BoundedTopK].getName, null, "graft_topk",
        "graft_topk(score, id, k) - Aggregate: the k best (score, id) " +
          "pairs ordered (score DESC, id ASC), as a sorted " +
          "array<struct<score,id>> (rank = position + 1). Equivalent to " +
          "keeping ROW_NUMBER() OVER (ORDER BY score DESC, id) <= k, " +
          "EXCEPT that rows with a NULL score are excluded from the " +
          "ranking entirely (a window would order them last). k must be " +
          "a literal INT >= 1; id must be BIGINT.",
        null, "", "", "", "", "", ""),
      (children: Seq[Expression]) => {
        // arity-check before indexing: a wrong-arity SQL call must be
        // an analysis error, not an IndexOutOfBoundsException
        if (children.size != 3)
          throw new org.apache.spark.sql.AnalysisException(
            "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
              "functionName" -> "`graft_topk`", "expectedNum" -> "3",
              "actualNum" -> children.size.toString,
              "docroot" -> "https://spark.apache.org/docs/latest"))
        BoundedTopK(children(0), children(1), children(2))
      }))
    e.injectFunction((
      new FunctionIdentifier("graft_heavy_hitters"),
      new ExpressionInfo(classOf[HeavyHitters].getName, null, "graft_heavy_hitters",
        "graft_heavy_hitters(item, capacity, k) - Aggregate: Misra-Gries " +
          "heavy-hitters sketch over STRING items with at most `capacity` " +
          "counters; returns the k largest surviving counters as a sorted " +
          "array<struct<item,cnt>> (cnt DESC, item ASC). Counts are lower " +
          "bounds within N/(capacity+1) of true frequency; exact when the " +
          "distinct-item count never exceeds capacity. NULL items are " +
          "skipped. capacity and k must be literal INTs >= 1.",
        null, "", "", "", "", "", ""),
      (children: Seq[Expression]) => {
        if (children.size != 3)
          throw new org.apache.spark.sql.AnalysisException(
            "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
              "functionName" -> "`graft_heavy_hitters`", "expectedNum" -> "3",
              "actualNum" -> children.size.toString,
              "docroot" -> "https://spark.apache.org/docs/latest"))
        HeavyHitters(children(0), children(1), children(2))
      }))
  }
}
