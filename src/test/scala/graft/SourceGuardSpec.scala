package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the session posture and the run knobs in one place each: a
  * hand-built session or an ad-hoc environment read anywhere else in
  * `src/main` fails here by file name. */
class SourceGuardSpec extends AnyFunSuite {

  private val sources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map((p: Path) => p.getFileName.toString -> Files.readString(p))
    finally walk.close()
  }

  private def offenders(needles: Seq[String], allowed: String): Seq[String] =
    sources.collect {
      case (file, text) if file != allowed && needles.exists(text.contains) => file
    }.sorted

  test("SparkSession.builder() is called only in GraftSession") {
    assert(sources.exists(_._1 == "GraftSession.scala"))
    val bad = offenders(Seq("SparkSession.builder()"), "GraftSession.scala")
    assert(bad.isEmpty, s"build the session with GraftSession.local: ${bad.mkString(", ")}")
  }

  test("environment variables are read only in RunConfig") {
    assert(sources.exists(_._1 == "RunConfig.scala"))
    val bad = offenders(Seq("sys.env", "System.getenv"), "RunConfig.scala")
    assert(bad.isEmpty, s"parse the variable in RunConfig: ${bad.mkString(", ")}")
  }
}
