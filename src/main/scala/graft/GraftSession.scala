package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended configuration: shuffle
  * partitions sized to cores (not the 200 default), UTC session timezone
  * (oracle parity), AQE on, and graft's native functions registered.
  * Every main in this repo gets its session here, and so can library
  * users and notebooks. */
object GraftSession {

  def local(): SparkSession = local(Runtime.getRuntime.availableProcessors())

  /** A `local[cores]` session with the UI off and log level WARN. `conf`
    * is applied last, so a caller can override any part of the posture. */
  def local(cores: Int, conf: (String, String)*): SparkSession = {
    val spark = configure(SparkSession.builder().master(s"local[$cores]")
      .config("spark.ui.enabled", "false"), cores, conf: _*)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** For cluster deploys: caller supplies master/deploy settings, graft
    * supplies the engine config. Shuffle partitions should be ~2-3x total
    * executor cores (ARCHITECTURE.md §2). */
  def configure(builder: SparkSession.Builder, shufflePartitions: Int,
      conf: (String, String)*): SparkSession = {
    val spark = conf.foldLeft(builder
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    graft.plans.GraftExtensions.install(spark)
    spark
  }
}
