package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, SparkPlan}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Catalog-wide physical-plan audit: one line per query with the plan
  * facts that matter at 100 TB — shuffle-exchange count, broadcast count,
  * cross-product/nested-loop joins, and unpartitioned window operators.
  * Run it after adding operators; anything surprising here is a scale bug
  * before it is a perf bug. PlanAuditSpec runs the same sweep as a
  * regression GATE (zero cartesian/BNLJ, global windows frozen to an
  * explicit allowlist); this main remains the human-readable report.
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
  * Given a plan directory too, the sweep writes `<planDir>/<query>.txt`:
  * the `explain("formatted")` of the very plan it counted (AQE off,
  * 8 cores), so before/after plan claims are checkable without running
  * Spark — dump the parent and the change into two directories and diff.
  *
  *   sbt "runMain graft.PlanAudit /root/testdata/sf0.001"
  *   sbt "runMain graft.PlanAudit <sfDir> src/test/scala/graft/ShuffleBudget.scala [planDir]"
  */
object PlanAudit {

  /** Plan facts for one query. `globalWindows` counts WindowExec operators
    * with an empty partitionSpec — every row in one partition, the classic
    * never-at-100TB shape unless the input is provably bounded first. */
  final case class Counts(
      shuffles: Int, broadcasts: Int, cartesian: Int, bnlj: Int,
      globalWindows: Int, error: Option[String])

  /** Sweep every catalog query's STATIC physical plan (caller must have
    * AQE disabled — adaptive wrapping hides the pre-runtime shape),
    * writing each counted plan's formatted explain into `planDir` if
    * given. */
  def sweep(spark: SparkSession, sfDir: String,
      planDir: Option[Path] = None): Seq[(String, Counts)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> (try {
        val qe = fn(spark, sfDir).queryExecution
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
          None)
      } catch {
        case scala.util.control.NonFatal(t) =>
          Counts(0, 0, 0, 0, 0, Some(Option(t.getMessage).getOrElse(
            t.getClass.getName).take(120)))
      })
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // fixed 8 cores so a regeneration reproduces the committed budget;
    // audit the static plan: AQE would hide the pre-runtime shape
    val spark = GraftSession.local(8, "spark.sql.adaptive.enabled" -> "false")
    val planDir = args.lift(2).map(d => Files.createDirectories(Paths.get(d)))
    val counts = sweep(spark, sfDir, planDir)
    println(f"${"query"}%-28s shuf bcast cartesian bnlj gwindow")
    counts.foreach {
      case (name, Counts(_, _, _, _, _, Some(err))) =>
        println(f"$name%-28s ERROR $err")
      case (name, c) =>
        val flag =
          if (c.cartesian > 0 || c.bnlj > 0 || c.globalWindows > 0) "  <--"
          else ""
        println(f"$name%-28s ${c.shuffles}%4d ${c.broadcasts}%5d " +
          f"${c.cartesian}%9d ${c.bnlj}%4d ${c.globalWindows}%7d$flag")
    }
    args.lift(1).foreach { outFile =>
      val errs = counts.collect { case (n, c) if c.error.isDefined => n }
      require(errs.isEmpty, s"plan build failed for: ${errs.mkString(", ")}")
      Files.write(Paths.get(outFile),
        budgetSource(counts).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"wrote $outFile (${counts.size} queries)")
    }
    planDir.foreach(d => println(s"wrote ${counts.size} plans to $d"))
    spark.stop()
  }

  private def budgetSource(counts: Seq[(String, Counts)]): String = {
    val sb = new StringBuilder
    sb ++= "package graft\n\n"
    sb ++= "/** GENERATED by `graft.PlanAudit` — do not hand-edit.\n"
    sb ++= "  * Frozen (shuffle, broadcast) Exchange budget per catalog query,\n"
    sb ++= "  * from the static plan at sf0.001 with AQE off. PlanAuditSpec\n"
    sb ++= "  * fails any query that exceeds its budget; regenerate only for\n"
    sb ++= "  * DELIBERATE plan changes, and justify in the commit message.\n"
    sb ++= "  */\n"
    sb ++= "object ShuffleBudget {\n"
    sb ++= "  val budget: Map[String, (Int, Int)] = Map(\n"
    sb ++= counts.map { case (name, c) =>
      s"""    "$name" -> (${c.shuffles}, ${c.broadcasts})"""
    }.mkString(",\n")
    sb ++= ")\n}\n"
    sb.toString
  }
}
