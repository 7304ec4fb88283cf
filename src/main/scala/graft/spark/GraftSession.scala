package graft.spark

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standing configuration.
  *
  * Scale posture: shuffle partitions sized to cores (not the 200 default),
  * AQE on with skew-join splitting (the backstop behind our explicit salting,
  * SURVEY §4.2), and broadcast threshold left to Spark — small dimension
  * sides (heavy-key lists, config rows) are broadcast explicitly.
  */
object GraftSession {
  def local(cores: Int, appName: String = "graft"): SparkSession = {
    // shuffle/spill files on tmpfs: this host has ample RAM and slow block
    // I/O; disk-backed shuffle writes showed up as 25% kernel time
    val localDir = {
      val d = java.nio.file.Paths.get("/dev/shm/graft-spark")
      try { java.nio.file.Files.createDirectories(d); d.toString }
      catch { case _: Throwable => System.getProperty("java.io.tmpdir") }
    }
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.local.dir", localDir)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // plan-description hygiene: deep incremental/iterative lineages can
      // render multi-GB explain strings into listener events (default cap is
      // ~2 GB) — a driver OOM from LOGGING. 1 MB is plenty for humans.
      .config("spark.sql.maxPlanStringLength", (1 << 20).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Tuning applied to an externally-provided session (spark-submit path):
    * only settable-at-runtime knobs — the same AQE, skew-join and UTC
    * session time zone as [[local]]. */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark
  }
}
