package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Every message down the cause chain — Spark wraps raise_error /
    * require failures in SparkException layers, so asserts on error text
    * must search the whole chain. */
  def msgs(t: Throwable): Seq[String] =
    if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)

  /** Session with ISOLATED SQLConf (shared SparkContext/catalog) for any
    * test that needs non-default conf — broadcast thresholds, AQE
    * toggles, state-store providers. sbt runs suites in parallel inside
    * the forked JVM, so a `spark.conf.set` on the SHARED session races
    * with every concurrently-planning suite (a -1 broadcast threshold
    * momentarily turns another suite's broadcast joins into SMJ/cartesian
    * and fails its plan audit). Rule: never mutate `spark.conf` in a
    * test; take an `isolated(...)` session instead — no restore needed,
    * nothing leaks. */
  def isolated(pairs: (String, String)*): SparkSession = {
    val s = SparkSpec.session.newSession()
    pairs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }
}

object SparkSpec {
  /** Runs `mainClass` in a child JVM with this JVM's flags and classpath
    * (512 MB heap) and returns its merged stdout/stderr lines; fails
    * unless it exits 0. For checks that need a fresh SparkContext. */
  def childJvm(mainClass: String): List[String] = {
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(java.nio.file.Paths.get(sys.props("java.home"), "bin", "java").toString) ++
      jvmArgs ++ Seq("-Xmx512m", "-cp", sys.props("java.class.path"), mainClass)
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val lines = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
    assert(proc.waitFor() == 0, lines.takeRight(20).mkString("\n"))
    lines
  }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
