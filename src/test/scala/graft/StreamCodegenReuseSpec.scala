package graft

import java.sql.Timestamp

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Events

/** A stream query started on a graft source reuses the classes an earlier
  * query compiled: each pipeline, started a second time over the same
  * landing dir with a fresh checkpoint, compiles nothing. With per-session
  * artifact isolation on (Spark's default, which the sources turn off
  * unless the caller set it), every start clones the session into a new
  * executor class loader and compiles its whole plan again.
  *
  * The compile counter (`CodegenMetrics`) is JVM-wide and suites run in
  * parallel, so the queries run in a child JVM (`StreamCodegenReuseSpec.main`)
  * that prints one `@ key value` line per fact. */
class StreamCodegenReuseSpec extends AnyFunSuite {
  import StreamCodegenReuseSpec._

  private lazy val child: Map[String, String] =
    SparkSpec.childJvm("graft.StreamCodegenReuseSpec").collect {
      case l if l.startsWith("@ ") => val Array(k, v) = l.drop(2).split(" ", 2); k -> v
    }.toMap

  private def compiles(run: String): (Long, Long) = {
    val Array(first, second) = child(run).split(" ").map(_.toLong)
    (first, second)
  }

  for (name <- Pipelines) test(s"$name: a second start on readEventStream compiles nothing") {
    val (first, second) = compiles(name)
    assert(first > 0, s"$name: the first start compiled nothing, so the counter is blind")
    assert(second == 0, s"$name: the second start compiled $second classes (first: $first)")
  }

  test("a caller's artifact isolation survives readEventStream, and then every start compiles") {
    assert(child("isolated.conf") == "true")
    val (first, second) = compiles("isolated.dedup_deliveries")
    assert(second > 0, s"the second isolated start compiled nothing (first: $first)")
  }
}

object StreamCodegenReuseSpec {
  val Pipelines = Seq(
    "dedup_deliveries", "tumbling_counts", "interval_join", "sessionize_event_time")

  private val T0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  /** Two one-file chunks of 200 events, one second apart, modstamped in
    * order so the file source replays them one per batch. */
  private def stage(spark: SparkSession, landing: java.io.File): Unit = {
    import spark.implicits._
    landing.mkdirs()
    for (c <- 0 until 2) {
      val tmp = java.nio.file.Files.createTempDirectory("graft_codegen_chunk").toFile
      (c * 200 until (c + 1) * 200)
        .map(e => (e.toLong, new Timestamp(T0 + e * 1000L), (e % 7).toLong,
          Seq("click", "purchase")(e % 2), e * 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dest = new java.io.File(landing, s"chunk_$c.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      require(dest.setLastModified(T0 + c * 60000L))
      tmp.listFiles().foreach(_.delete()); tmp.delete()
    }
  }

  /** The pipeline `name` over `landing`, started with checkpoint `ckpt`
    * into a noop sink, as StreamBench runs it. */
  private def start(spark: SparkSession, name: String, landing: String,
      ckpt: String): StreamingQuery = {
    import spark.implicits._
    def source() = Events.readEventStream(spark, landing, Map("maxFilesPerTrigger" -> "1"))
    def noop(df: DataFrame, mode: String) = df.writeStream.outputMode(mode)
      .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow())
      .format("noop").start()
    name match {
      case "dedup_deliveries" => noop(Events.dedupDeliveries(source()), "append")
      case "tumbling_counts" => noop(Events.tumblingCounts(source(), "1 hour"), "update")
      case "interval_join" =>
        val clicks = source().filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id"))
        val purchases = source().filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        noop(Events.intervalJoinStreams(clicks, purchases, wmDelay = "2 hours",
          before = "0 minutes", after = "30 minutes"), "append")
      case "sessionize_event_time" =>
        noop(Events.sessionizeEventTime(
          source().select(col("user_id"), col("ts"), col("event_type"), col("value"))
            .as[Events.Ev], gapMs = 3600000L).toDF(), "append")
    }
  }

  /** Child JVM: each pipeline built and run to the end twice, on fresh
    * checkpoints; prints the compiles of each run. */
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val work = java.nio.file.Files.createTempDirectory("graft_codegen").toFile
    val landing = new java.io.File(work, "landing")
    stage(spark, landing)
    def compilesOfRun(s: SparkSession, name: String): Long = {
      val ckpt = java.nio.file.Files.createTempDirectory(work.toPath, "ckpt").toString
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val q = start(s, name, landing.getPath, ckpt)
      try require(q.awaitTermination(120000), s"$name timed out") finally q.stop()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    def out(k: String, s: SparkSession, name: String): Unit =
      println(s"@ $k ${compilesOfRun(s, name)} ${compilesOfRun(s, name)}")
    try {
      Pipelines.foreach(name => out(name, spark, name))
      val isolated = spark.newSession()
      isolated.conf.set("spark.sql.artifact.isolation.enabled", "true")
      out("isolated.dedup_deliveries", isolated, "dedup_deliveries")
      println(s"@ isolated.conf ${isolated.conf.get("spark.sql.artifact.isolation.enabled")}")
    } finally spark.stop()
  }
}
