package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.GraftExtensions

/** `GraftSession.local` runs `getOrCreate`: in the test JVM it would
  * return the shared session and rewrite its shuffle partitions and AQE
  * under every concurrently running suite. So the factory is exercised in
  * a child JVM (`GraftSessionSpec.main`) that prints what its sessions
  * report, one `key value` line per fact. */
class GraftSessionSpec extends AnyFunSuite {

  private lazy val child: Map[String, String] =
    SparkSpec.childJvm("graft.GraftSessionSpec").collect {
      case l if l.startsWith("@ ") => val Array(k, v) = l.drop(2).split(" ", 2); k -> v
    }.toMap

  test("GraftSession registers native functions") {
    assert(child("functions") ==
      GraftExtensions.functions.map(_._1.funcName).sorted.mkString(","))
    assert(child("char_ngrams") == "abc,bcd")
    assert(child("vec_dot") == "11.0")
  }

  test("GraftSession.local posture: UTC, partitions = cores, AQE, UI off, WARN") {
    assert(child("timeZone") == "UTC")
    assert(child("shufflePartitions") == "3")
    assert(child("master") == "local[3]")
    assert(child("adaptive") == "true")
    assert(child("uiEnabled") == "false" && child("uiUrl") == "None")
    assert(child("logLevel") == "WARN")
  }

  test("caller conf is applied over the posture") {
    assert(child("override.adaptive") == "false")
    assert(child("override.shufflePartitions") == "7")
    assert(child("override.timeZone") == "UTC")
  }
}

object GraftSessionSpec {
  def main(args: Array[String]): Unit = {
    def out(k: String, v: Any): Unit = println(s"@ $k $v")
    val spark = GraftSession.local(3)
    try {
      out("functions", GraftExtensionsSpec.graftNames(spark).toSeq.sorted.mkString(","))
      out("char_ngrams",
        spark.sql("SELECT char_ngrams('abcd', 3)").head().getSeq[String](0).mkString(","))
      out("vec_dot", spark.sql(
        "SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))").head().getDouble(0))
      out("timeZone", spark.conf.get("spark.sql.session.timeZone"))
      out("shufflePartitions", spark.conf.get("spark.sql.shuffle.partitions"))
      out("master", spark.sparkContext.master)
      out("adaptive", spark.conf.get("spark.sql.adaptive.enabled"))
      out("uiEnabled", spark.sparkContext.getConf.get("spark.ui.enabled"))
      out("uiUrl", spark.sparkContext.uiWebUrl)
      out("logLevel", org.apache.logging.log4j.LogManager.getRootLogger.getLevel)
    } finally spark.stop()
    val over = GraftSession.local(2,
      "spark.sql.adaptive.enabled" -> "false", "spark.sql.shuffle.partitions" -> "7")
    try {
      out("override.adaptive", over.conf.get("spark.sql.adaptive.enabled"))
      out("override.shufflePartitions", over.conf.get("spark.sql.shuffle.partitions"))
      out("override.timeZone", over.conf.get("spark.sql.session.timeZone"))
    } finally over.stop()
  }
}
