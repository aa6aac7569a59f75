package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._

/** One workload run: a single client runs the workload's query rows in a
  * closed loop and times, for every row sample, the two public calls that
  * make up a query from outside the engine:
  *   - construct: the row builder `fn(spark, dir)`, which returns the frame
  *     after running whatever eager jobs the row needs;
  *   - exec: `df.write.format("noop").save()`, which executes the frame.
  *
  * Run order: set-up (session, then one pass in listed order that checks
  * every row's output), then warm passes in the seed's row order.
  * `--trace 1` alternates untraced and traced warm passes and reports the
  * per-layer metrics of the traced ones; `--trace 0` attaches nothing.
  *
  * The last stdout line is the result JSON; the lines before it name
  * every metric with its unit for a reader. */
object Main {
  final case class Sample(row: String, pass: Int, construct: Double, exec: Double,
      ok: Boolean, files: Long = 0L, cacheHits: Long = 0L) {
    def wall: Double = construct + exec
  }

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: Path, state: Path, config: Path, expected: Path, artifact: Option[Path],
      record: Option[Path])

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      Paths.get(req("data")), Paths.get(req("state")), Paths.get(req("config")),
      Paths.get(req("expected")), m.get("artifact").map(Paths.get(_)),
      m.get("record").map(Paths.get(_)))
  }

  /** The workload's rows as listed in the config, each resolved to the
    * function the engine's bench main runs under that name. A name the
    * engine does not know fails the run instead of dropping out. */
  def resolveRows(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val queries = graft.SparkEntry.queries
    val missing = names.filterNot(queries.contains)
    require(missing.isEmpty, s"rows not in SparkEntry.queries: ${missing.mkString(", ")}")
    names.map(n => n -> graft.SparkEntry.benchVariants.getOrElse(n, queries(n)))
  }

  /** Drops Spark's generated-code cache so the next query compiles again,
    * by the same reflection the engine's bench main uses. */
  def codegenInvalidator(): () => Unit = {
    val cls = Class.forName("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
    val mod = cls.getField("MODULE$").get(null)
    val f = cls.getDeclaredField("cache")
    f.setAccessible(true)
    val wrapper = f.get(mod)
    val inner = wrapper.getClass.getMethod("loadingCache").invoke(wrapper)
    val m = Class.forName("org.sparkproject.guava.cache.Cache").getMethod("invalidateAll")
    m.invoke(inner)
    () => { m.invoke(inner); () }
  }

  def loadAvg(): Seq[Double] =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ").take(3)
      .map(_.toDouble).toSeq
    catch { case NonFatal(_) => Nil }

  /** CPU seconds the hypervisor gave to other guests: the steal column of
    * `/proc/stat`, summed over cores, in ticks of 1/100 s; 0 where the
    * kernel does not report it. */
  def stealSeconds(): Double =
    try {
      val cpu = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
        .split("\\s+")
      if (cpu.length > 8) cpu(8).toDouble / 100.0 else 0.0
    } catch { case NonFatal(_) => 0.0 }

  /** Fixed-shape, data-independent job (xxhash64 over a range on every
    * core): its time depends on how busy the host is, not on the engine's
    * queries, so a slow run can be told from a slow change afterwards. */
  def sentinel(spark: SparkSession, cores: Int): Double = {
    import org.apache.spark.sql.functions.{col, sum, xxhash64}
    val t0 = System.nanoTime()
    spark.range(0, 8000000L, 1, cores).select(sum(xxhash64(col("id"))))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Heap in use right after a full collection: the driver's live set.
    * A collection lets Spark's context cleaner see which broadcasts and
    * shuffles are unreachable; it drops their blocks within its 100 ms
    * poll, and the next collection frees them; a cleaner busy removing
    * shuffle files frees later. So it collects until two rounds in a row
    * free less than 1 MB each (at most ten rounds). */
  def liveHeapBytes(): Long = {
    def collect(): Long = {
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var cur = collect()
    var quiet = 0
    var rounds = 1
    while (quiet < 2 && rounds < 10) {
      val next = collect()
      quiet = if (cur - next < (1L << 20)) quiet + 1 else 0
      cur = math.min(cur, next)
      rounds += 1
    }
    cur
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val args = parseArgs(argv)
    val cores = Runtime.getRuntime.availableProcessors
    val config = Json.read(args.config)
    val wl = config \ "workloads" \ args.workload
    val rows = resolveRows(Json.workloadRows(config, args.workload))
    val writeRows = Json.strings(wl \ "write_rows").toSet
    val probeRows = Json.strings(wl \ "probe_rows").toSet
    val nominalPass = (wl \ "pass_s") match {
      case JDouble(d) => d
      case JInt(i) => i.toDouble
      case _ => Double.PositiveInfinity
    }
    val expected = Json.read(args.expected)
    val spark = Session.build(cores, args.state)
    val dataDir = args.data.toAbsolutePath.toString
    val failedRows = mutable.LinkedHashMap.empty[String, String]

    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def once(name: String, fn: (SparkSession, String) => DataFrame, pass: Int,
        tracer: Option[Tracer], run: DataFrame => Unit = noop): Sample = {
      val files0 = Tracer.filesDiscovered
      val hits0 = Tracer.fileCacheHits
      def timed[T](kind: String, parent: Long)(body: => T): (T, Double) = {
        val t0 = System.nanoTime()
        val r = tracer match {
          case Some(t) => t.span(kind, name, pass, parent)(_ => body)
          case None => body
        }
        (r, (System.nanoTime() - t0) / 1e9)
      }
      def sample(parent: Long): Sample = {
        var construct, exec = 0.0
        try {
          val (df, c) = timed("construct", parent)(fn(spark, dataDir))
          construct = c
          exec = timed("exec", parent)(run(df))._2
          Sample(name, pass, construct, exec, ok = true,
            Tracer.filesDiscovered - files0, Tracer.fileCacheHits - hits0)
        } catch { case NonFatal(e) =>
          failedRows.getOrElseUpdate(name, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
          System.err.println(s"[perfbench] row $name failed in pass $pass: ${e.getMessage}")
          Sample(name, pass, construct, exec, ok = false)
        }
      }
      tracer match {
        case Some(t) => t.span("row", name, pass, 0L)(id => sample(id))
        case None => sample(0L)
      }
    }

    // ---- set-up: one pass in listed order; each row's frame is executed
    // once, by the fingerprint that checks its output. A traced run drops
    // the generated-code cache before each row, so this pass also counts
    // what code generation costs a cold pass. ----
    val checks = mutable.LinkedHashMap.empty[String, String]
    val observed = mutable.LinkedHashMap.empty[String, Fingerprint]
    val invalidate = if (args.trace) Some(codegenInvalidator()) else None
    val cg0 = (Tracer.codegenCompiles, Tracer.codegenNanos)
    val setupSamples = rows.map { case (name, fn) =>
      invalidate.foreach(_())
      val s = once(name, fn, -1, None, df => observed(name) = Fingerprint.of(df))
      checks(name) = observed.get(name).map(Check.verdict(expected \ name, _)).getOrElse("failed")
      System.err.println(f"[perfbench] set-up $name%s ${s.construct}%.3f + ${s.exec}%.3f s: ${checks(name)}%s")
      spark.catalog.clearCache()
      s
    }
    val cgCompiles = Tracer.codegenCompiles - cg0._1
    val cgSeconds = (Tracer.codegenNanos - cg0._2) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    // every warm pass starts from a collected heap, so a sample does not
    // pay for garbage the set-up or an earlier row left
    val heapAfterSetup = liveHeapBytes()
    val load0 = loadAvg()
    val steal0 = stealSeconds()
    val sentinel0 = sentinel(spark, cores)

    // ---- warm passes in the seed's row order; a traced run alternates
    // untraced and traced passes, starting and ending untraced so its
    // untraced samples are not only the first, still-warming pass ----
    val passes = math.max(if (args.trace) 3 else 2, (args.seconds / nominalPass).toInt)
    val tracer = if (args.trace) Some(new Tracer(spark)) else None
    var tracedGcMs = 0L
    val warm = mutable.ArrayBuffer.empty[Sample]
    val tracedWarm = mutable.ArrayBuffer.empty[Sample]
    val t0 = System.nanoTime()
    for (p <- 0 until passes) {
      val traced = tracer.filter(_ => p % 2 == 1)
      if (p > 0) System.gc()
      traced.foreach(_.attach())
      val gc0 = Tracer.gcMillis
      Stats.permutation(args.seed, p, rows.size).foreach { i =>
        val (name, fn) = rows(i)
        val s = once(name, fn, p, traced)
        if (traced.isDefined) tracedWarm += s else warm += s
        spark.catalog.clearCache()
      }
      traced.foreach { t => tracedGcMs += Tracer.gcMillis - gc0; t.detach() }
    }
    val warmSeconds = (System.nanoTime() - t0) / 1e9
    val heapAfterWarm = liveHeapBytes()
    val heapPeakMb = math.max(heapAfterSetup, heapAfterWarm) / 1048576.0
    val sentinel1 = sentinel(spark, cores)
    val load1 = loadAvg()
    val stealS = stealSeconds() - steal0

    // ---- results ----
    val all = setupSamples ++ warm ++ tracedWarm
    val wrong = checks.count { case (_, v) => !Check.passed(v) }
    // a row whose check sample threw is already counted as a failed sample
    val failed = all.count(!_.ok) + checks.count { case (_, v) => !Check.passed(v) && v != "failed" }
    val attempted = all.size
    val correct = failedRows.isEmpty && wrong == 0

    def perRowFastestSum(ss: Seq[Sample]): Double =
      ss.filter(_.ok).groupBy(_.row).values.map(g => g.map(_.wall).min).sum
    val warmOk = warm.filter(_.ok).map(_.wall).toSeq
    val (tailPct, tailValue) = Stats.tail(warmOk)
    val endToEnd = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "pass_s" -> (perRowFastestSum(warm.toSeq), "s"),
      "heap_peak_mb" -> (heapPeakMb, "MB"))

    val layers = tracer.map(t => Layers.compute(t, tracedWarm.toSeq, warm.toSeq, passes / 2,
      cores, writeRows, probeRows, tracedGcMs, cgCompiles, cgSeconds)).getOrElse(Map.empty)

    val out = System.out
    out.println(s"workload=${args.workload} seed=${args.seed} trace=${if (args.trace) 1 else 0} " +
      s"rows=${rows.size} warm_passes=$passes warm_seconds=${"%.2f".format(warmSeconds)} " +
      s"cores=${cores} samples=$attempted")
    checks.foreach { case (n, v) => if (!Check.passed(v)) out.println(s"check $n: $v") }
    out.println(s"check: ${checks.count(c => Check.passed(c._2))}/${rows.size} rows pass " +
      s"(${checks.values.groupBy(Check.label).map { case (k, v) => s"$k=${v.size}" }.mkString(" ")})")
    failedRows.foreach { case (n, e) => out.println(s"failed row $n: $e") }
    out.println(s"failed_ratio=${failed.toDouble / attempted} ($failed of $attempted samples)")
    out.println(s"row_p50_s = ${Stats.median(warmOk)} s; row_tail_s = $tailValue s (p$tailPct of " +
      s"${warmOk.size} warm samples: the highest percentile with at least ten samples beyond it)")
    out.println(s"noise: sentinel_s=${"%.3f".format(sentinel0)},${"%.3f".format(sentinel1)} " +
      s"loadavg=${load0.mkString("/")},${load1.mkString("/")} " +
      s"steal_s=${"%.2f".format(stealS)} (of ${"%.1f".format(warmSeconds * cores)} core-seconds)")
    val printed =
      if (args.trace) layers.map { case (k, v) => k -> (v, Layers.unit(k)) }
      else endToEnd.toMap
    printed.toSeq.sortBy(_._1).foreach { case (k, (v, u)) => out.println(s"$k = $v $u") }

    args.record.foreach { p =>
      Files.write(p, Json.write(observed.map { case (n, f) =>
        n -> Map("schema" -> f.schema, "rows" -> f.rows, "digest" -> f.digest) }.toMap)
        .getBytes("UTF-8"))
    }
    args.artifact.foreach { p =>
      val rowsSummary = Layers.perRow(tracer, tracedWarm.toSeq, warm.toSeq)
      Files.write(p, Json.write(Map(
        "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
        "cores" -> cores, "passes" -> passes, "end_to_end" -> endToEnd.map(e => e._1 -> e._2._1).toMap,
        "row_p50_s" -> Stats.median(warmOk), "row_tail_s" -> tailValue,
        "heap_mb" -> Seq(heapAfterSetup, heapAfterWarm).map(_ / 1048576.0),
        "per_layer" -> layers, "row_tail_percentile" -> tailPct,
        "checks" -> checks.toMap, "failed_rows" -> failedRows.toMap,
        "noise" -> Map("sentinel_s" -> Seq(sentinel0, sentinel1), "loadavg" -> Seq(load0, load1),
          "steal_s" -> stealS),
        "samples" -> all.map(s => Seq(s.row, s.pass, s.construct, s.exec, s.ok)),
        "rows" -> rowsSummary,
        "spans" -> tracer.map(_.spans.map(s => Seq(s.id, s.kind, s.row, s.pass, s.parent,
          s.start, s.end))).getOrElse(Nil))).getBytes("UTF-8"))
    }
    spark.stop()
    out.println(Json.write(Map("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> printed.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) })))
    out.flush()
  }
}
