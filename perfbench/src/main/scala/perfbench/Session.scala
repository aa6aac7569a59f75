package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** The benchmark's Spark session: `local[cores]` with as many shuffle
  * partitions, the engine's extensions and the session settings the
  * engine's own bench main uses. Every piece of on-disk state the session
  * can leave behind (warehouse, checkpoints, spill and shuffle files) goes
  * under `state`, which must not exist yet: a directory left by an earlier
  * process would replay stale tables into this one, so it fails loudly. */
object Session {
  def build(cores: Int, state: Path): SparkSession = {
    if (Files.exists(state))
      throw new IllegalStateException(s"state directory $state already exists: " +
        "an earlier process left it behind; remove it before benchmarking")
    Seq("warehouse", "checkpoint", "local", "tmp").foreach(d => Files.createDirectories(state.resolve(d)))
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.timeType.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", state.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", state.resolve("checkpoint").toString)
      .config("spark.local.dir", state.resolve("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
