package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

import graft.plans.GraftExtensions

/** Both registration paths expose the same functions: `install` on a live
  * session, and `spark.sql.extensions=graft.plans.GraftExtensions`. The
  * extensions conf is read only when a SparkContext starts, and the test
  * JVM already has one, so the conf path runs in a child JVM
  * (`GraftExtensionsSpec.main`) that prints what its session resolves. */
class GraftExtensionsSpec extends SparkSpec {

  private val tableNames = GraftExtensions.functions.map(_._1.funcName).toSet

  test("the function table names every function once, char_ngrams included") {
    assert(tableNames.size == GraftExtensions.functions.size)
    assert(tableNames.contains("char_ngrams"))
    assert(tableNames.contains("token_stats"))
  }

  test("install and spark.sql.extensions register the same names") {
    val s = isolated()
    GraftExtensions.install(s)
    val installed = GraftExtensionsSpec.graftNames(s)
    assert(installed == tableNames)

    val lines = SparkSpec.childJvm("graft.GraftExtensionsSpec")
    val injected = lines.collect { case l if l.startsWith("fn ") => l.drop(3) }.toSet
    assert(injected == installed, s"extensions path: $injected")
    assert(lines.contains("char_ngrams abc,bcd"), lines.takeRight(20).mkString("\n"))
    assert(lines.contains("token_stats [4,2,2,2]"), lines.takeRight(20).mkString("\n"))
  }
}

object GraftExtensionsSpec {
  /** Functions a session resolves beyond Spark's builtins. */
  def graftNames(s: SparkSession): Set[String] =
    s.sessionState.functionRegistry.listFunction().map(_.funcName)
      .filterNot(n => FunctionRegistry.builtin.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(n))).toSet

  /** Child JVM: a session wired only through the extensions conf. */
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[1]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      graftNames(spark).toSeq.sorted.foreach(n => println(s"fn $n"))
      val grams = spark.sql("SELECT char_ngrams('abcd', 3)").head().getSeq[String](0)
      println("char_ngrams " + grams.mkString(","))
      println("token_stats " + spark.sql("SELECT token_stats(' a b  a b ', 3)").head().getStruct(0))
    } finally spark.stop()
  }
}
