package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Round-13 measurement aid: dump `.explain("formatted")` for catalog
  * queries to one file each, so before/after plan claims in
  * OPTIMIZATION_r13.md are checkable without running Spark.
  *
  *   sbt "runMain graft.PlanDump <sfDir> <outDir> [suffix] [q1,q2,...]"
  *
  * Writes `<outDir>/<query><suffix>.txt`. The session mirrors the bench's
  * (AQE on — the plan the timed run actually starts from; the
  * `AdaptiveSparkPlan isFinalPlan=false` header is expected).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = if (args.length > 2) args(2) else ""
    val only = if (args.length > 3)
      RunConfig.queryNames(args(3), "PlanDump's name list").toSet
    else Set.empty[String]
    val cfg = RunConfig.fromEnv()
    val spark = GraftSession.local(cfg.cpus)
    // same fixture-layout conf as Bench so the dumped plan is the timed one
    spark.conf.set("graft.bench.singleFileFixture", cfg.singleFile.toString)
    Files.createDirectories(Paths.get(outDir))
    val mode = ExplainMode.fromString("formatted")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
        try {
          val txt = fn(spark, sfDir).queryExecution.explainString(mode)
          Files.writeString(Paths.get(outDir, s"$name$suffix.txt"), txt)
        } catch {
          case scala.util.control.NonFatal(t) =>
            System.err.println(s"[plandump] $name failed: ${t.getMessage}")
        }
      }
    spark.stop()
  }
}
