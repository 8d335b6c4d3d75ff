package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CoalesceExec, ExplainMode, SparkPlan}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Catalog-wide physical-plan audit: one line per query with the plan
  * facts that matter at 100 TB — shuffle-exchange count, broadcast count,
  * cross-product/nested-loop joins, unpartitioned window operators,
  * one-partition coalesces — and the jobs the query launches while its
  * DataFrame is built. Run it after adding operators; anything surprising
  * here is a scale bug before it is a perf bug. PlanAuditSpec runs the
  * same sweep as a regression GATE (zero cartesian, BNLJ, global windows
  * and one-partition coalesces frozen to explicit allowlists); this main
  * remains the human-readable report.
  *
  * Given a budget path, the same sweep also writes the catalog-wide
  * SHUFFLE BUDGET: every query's static (shuffle, broadcast) Exchange
  * counts rendered as the `graft.ShuffleBudget` test source. PlanAuditSpec
  * then fails BY NAME any query whose Exchange count rises above its
  * frozen budget — the cheapest catalog-wide guard against the classic
  * scale regression (a refactor that silently adds an Exchange to a
  * map-only plan, invisible to correctness gates and to sub-second sf0.1
  * timings, ruinous at 100 TB; a broadcast that silently becomes a
  * shuffle is the same class). Regenerate ONLY when a deliberate plan
  * change moves a count, and say why in the commit.
  *
  * The same run writes the JOB BUDGET beside it (`JobBudget.scala` in the
  * budget file's directory): the jobs each query launches while it is
  * built — eager checkpoints, `head()`/`count()` convergence checks —
  * which run before the final action and are invisible to the Exchange
  * budget. At a fixed fixture the count is deterministic, which wall
  * time is not; PlanAuditSpec fails any rise by name.
  *
  * Given a plan directory too, the sweep writes `<planDir>/<query>.txt`:
  * the `explain("formatted")` of the very plan it counted (AQE off,
  * 4 cores), so before/after plan claims are checkable without running
  * Spark — dump the parent and the change into two directories and diff.
  *
  *   sbt "runMain graft.PlanAudit /root/testdata/sf0.001"
  *   sbt "runMain graft.PlanAudit <sfDir> src/test/scala/graft/ShuffleBudget.scala [planDir]"
  */
object PlanAudit {

  /** Plan facts for one query. `globalWindows` counts WindowExec operators
    * with an empty partitionSpec — every row in one partition, the classic
    * never-at-100TB shape unless the input is provably bounded first.
    * `singleCoalesces` counts `coalesce(1)` (CoalesceExec to 1 partition):
    * the same all-rows-to-one-task shape, legitimate only over an input
    * whose size does not grow with the corpus. `buildJobs` counts the
    * jobs launched while the query's DataFrame is built. */
  final case class Counts(
      shuffles: Int, broadcasts: Int, cartesian: Int, bnlj: Int,
      globalWindows: Int, singleCoalesces: Int, buildJobs: Int,
      error: Option[String])

  /** Runs `body` and returns the properties of every Spark job it
    * launched: jobs started from this thread, or from threads that inherit
    * its local properties (e.g. broadcast builds), under a job group of
    * its own, so jobs of other threads sharing the SparkContext are not
    * counted. The listener bus is asynchronous but ordered: once a
    * sentinel job run after `body` has been seen, so has every job `body`
    * started. */
  def jobsOf[T](spark: SparkSession)(body: => T): (T, Seq[java.util.Properties]) = {
    val sc = spark.sparkContext
    val group = "jobs-of-" + java.util.UUID.randomUUID()
    val sentinel = "sentinel " + group
    val seen = new ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(seen.add)
    }
    def description(p: java.util.Properties) = p.getProperty("spark.job.description")
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "body")
    try {
      val out = body
      sc.setJobDescription(sentinel)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.asScala.exists(description(_) == sentinel) && System.nanoTime() < deadline)
        Thread.sleep(5)
      require(seen.asScala.exists(description(_) == sentinel),
        "listener never saw the sentinel job")
      (out, seen.asScala.filter(description(_) != sentinel).toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Sweep every catalog query's STATIC physical plan (caller must have
    * AQE disabled — adaptive wrapping hides the pre-runtime shape),
    * writing each counted plan's formatted explain into `planDir` if
    * given. Every table's schema is read first, so the one-off inference
    * job of `Tables`' process-wide memo lands on no query. */
  def sweep(spark: SparkSession, sfDir: String,
      planDir: Option[Path] = None): Seq[(String, Counts)] = {
    new java.io.File(sfDir).list().toSeq.filter(_.endsWith(".parquet"))
      .foreach(f => graft.sources.Tables.table(spark, sfDir, f.stripSuffix(".parquet")))
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> (try {
        val (df, buildJobs) = jobsOf(spark)(fn(spark, sfDir))
        val qe = df.queryExecution
        val plan = qe.executedPlan
        planDir.foreach(d => Files.writeString(d.resolve(s"$name.txt"),
          qe.explainString(ExplainMode.fromString("formatted"))))
        def count(p: SparkPlan => Boolean): Int = {
          var n = 0
          plan.foreachWithSubqueries(x => if (p(x)) n += 1)
          n
        }
        Counts(
          count(_.isInstanceOf[ShuffleExchangeExec]),
          count(_.isInstanceOf[BroadcastExchangeExec]),
          count(_.isInstanceOf[CartesianProductExec]),
          count(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
          count {
            case w: WindowExec => w.partitionSpec.isEmpty
            case _ => false
          },
          count {
            case c: CoalesceExec => c.numPartitions == 1
            case _ => false
          },
          buildJobs.size,
          None)
      } catch {
        case scala.util.control.NonFatal(t) =>
          Counts(0, 0, 0, 0, 0, 0, 0, Some(Option(t.getMessage).getOrElse(
            t.getClass.getName).take(120)))
      })
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // 4 cores and 4 shuffle partitions, PlanAuditSpec's session, so a
    // regeneration reproduces the committed budgets: build jobs that scan
    // partitions incrementally (`head()`) depend on the partition count.
    // Audit the static plan: AQE would hide the pre-runtime shape.
    val spark = GraftSession.local(4, "spark.sql.adaptive.enabled" -> "false")
    val planDir = args.lift(2).map(d => Files.createDirectories(Paths.get(d)))
    val counts = sweep(spark, sfDir, planDir)
    println(f"${"query"}%-28s shuf bcast cartesian bnlj gwindow coalesce1 bjobs")
    counts.foreach {
      case (name, Counts(_, _, _, _, _, _, _, Some(err))) =>
        println(f"$name%-28s ERROR $err")
      case (name, c) =>
        val flag =
          if (c.cartesian > 0 || c.bnlj > 0 || c.globalWindows > 0 ||
              c.singleCoalesces > 0) "  <--"
          else ""
        println(f"$name%-28s ${c.shuffles}%4d ${c.broadcasts}%5d " +
          f"${c.cartesian}%9d ${c.bnlj}%4d ${c.globalWindows}%7d " +
          f"${c.singleCoalesces}%9d ${c.buildJobs}%5d$flag")
    }
    args.lift(1).foreach { outFile =>
      val errs = counts.collect { case (n, c) if c.error.isDefined => n }
      require(errs.isEmpty, s"plan build failed for: ${errs.mkString(", ")}")
      val shuffleFile = Paths.get(outFile)
      val jobFile = shuffleFile.resolveSibling("JobBudget.scala")
      Files.writeString(shuffleFile, budgetSource("ShuffleBudget", Seq(
        "Frozen (shuffle, broadcast) Exchange budget per catalog query,",
        "from the static plan at sf0.001 with AQE off. PlanAuditSpec",
        "fails any query that exceeds its budget; regenerate only for",
        "DELIBERATE plan changes, and justify in the commit message."),
        "(Int, Int)", counts.map { case (q, c) => q -> s"(${c.shuffles}, ${c.broadcasts})" }))
      Files.writeString(jobFile, budgetSource("JobBudget", Seq(
        "Frozen count of the jobs each catalog query launches while its",
        "DataFrame is built (before any action), at sf0.001 with AQE off",
        "and 4 shuffle partitions. PlanAuditSpec fails any query that",
        "exceeds its budget; regenerate only for DELIBERATE changes, and",
        "justify in the commit message."),
        "Int", counts.map { case (q, c) => q -> c.buildJobs.toString }))
      println(s"wrote $shuffleFile and $jobFile (${counts.size} queries)")
    }
    planDir.foreach(d => println(s"wrote ${counts.size} plans to $d"))
    spark.stop()
  }

  /** A generated `object <name> { val budget: Map[String, <valueType>] }`
    * test source; `doc` is the comment's body, one line each. */
  private def budgetSource(name: String, doc: Seq[String], valueType: String,
      budget: Seq[(String, String)]): String =
    ("package graft\n\n/** GENERATED by `graft.PlanAudit` — do not hand-edit.\n" +
      doc.map(l => s"  * $l\n").mkString + "  */\n" +
      s"object $name {\n  val budget: Map[String, $valueType] = Map(\n" +
      budget.map { case (q, v) => s"""    "$q" -> $v""" }.mkString(",\n") + ")\n}\n")
}
