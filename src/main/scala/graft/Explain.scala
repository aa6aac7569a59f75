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
    // scheduling/planning, not data work)
    val census = args.contains("-j")
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    if (census) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          val i = s.stageInfo
          val ms = i.taskMetrics.executorRunTime
          if (ms > 200) println(f"[stage] ${i.stageId}%4d tasks=${i.numTasks}%3d " +
            f"run=${ms / 1000.0}%.2f s  ${i.name.takeWhile(_ != '(').trim} ${i.details.linesIterator.drop(1).find(l => l.contains("graft") && !l.contains("Explain")).getOrElse("").trim.take(90)}")
        }
        override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          tasks.incrementAndGet()
          if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
        }
      })
    if (names.contains("x84_census"))
      graft.fuzz.DiffFuzz.temporalJoinCensus(spark, sfDir)
    selected.foreach { q =>
      val name = q.name
      val fn = q.bench.getOrElse(q.build)
      if (showPlan) fn(spark, sfDir).explain("formatted")
      (1 to 2).foreach { i =>
        jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0)
        // rebuild the frame INSIDE the timed region: composite queries
        // (x50/x137, the lifecycle rows) run eager driver-loop jobs at
        // construction, which a build-once census would silently skip —
        // this matches what Bench times per sample
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"[time] $name run$i: $wall%.2f s")
        if (census) {
          Thread.sleep(500) // listener bus is async; let counters settle
          println(f"[census] $name run$i: jobs=${jobs.get} stages=${stages.get} " +
            f"tasks=${tasks.get} taskTime=${taskMs.get / 1000.0}%.2f s wall=$wall%.2f s")
        }
      }
    }
    spark.stop()
  }
}
