package graft

/** Dev tool: time and explain individual queries.
  * usage: runMain graft.Explain <sfDir> <query...> [-e to print plans] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val showPlan = args.contains("-e")
    val names = args.drop(1).filterNot(a => a == "-e" || a == "-j")
    // dev census pseudo-query: time each x84 temporal-join mix solo
    val queryNames = names.filterNot(_ == "x84_census").toSeq
    val selected = if (queryNames.isEmpty) Nil else SparkEntry.select(queryNames)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkEntry.sessionBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // -j: per-run job/stage/task census — overhead-vs-work diagnosis
    // (a run whose wall-clock dwarfs its summed task time is paying
    // scheduling/planning, not data work; one with many codegen
    // compiles is paying Janino)
    val census = args.contains("-j")
    def compiles: Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def measured[A](body: => A): (A, Option[obs.Ran]) =
      if (!census) (body, None)
      else {
        val (r, ran) = obs.during(spark)(body)
        ran.stages.filter(_.taskMetrics.executorRunTime > 200).foreach { s =>
          val site = s.details.linesIterator.drop(1)
            .find(l => l.contains("graft") && !l.contains("Explain") && !l.contains("graft.obs"))
            .getOrElse("")
          println(f"[stage] ${s.stageId}%4d tasks=${s.numTasks}%3d " +
            f"run=${s.taskMetrics.executorRunTime / 1000.0}%.2f s  " +
            s"${s.name.takeWhile(_ != '(').trim} ${site.trim.take(90)}")
        }
        (r, Some(ran))
      }
    if (names.contains("x84_census"))
      measured(graft.fuzz.DiffFuzz.temporalJoinCensus(spark, sfDir))
    selected.foreach { q =>
      val name = q.name
      val fn = q.bench.getOrElse(q.build)
      if (showPlan) fn(spark, sfDir).explain("formatted")
      (1 to 2).foreach { i =>
        val compiles0 = compiles
        // rebuild the frame INSIDE the timed region: composite queries
        // (x50/x137, the lifecycle rows) run eager driver-loop jobs at
        // construction, which a build-once census would silently skip —
        // this matches what Bench times per sample
        val (wall, ran) = measured {
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"[time] $name run$i: $wall%.2f s")
        ran.foreach { r =>
          println(f"[census] $name run$i: jobs=${r.jobs} stages=${r.stages.size} " +
            f"tasks=${r.tasks} taskTime=${r.taskMs / 1000.0}%.2f s " +
            f"compiles=${compiles - compiles0} wall=$wall%.2f s")
        }
      }
    }
    spark.stop()
  }
}
