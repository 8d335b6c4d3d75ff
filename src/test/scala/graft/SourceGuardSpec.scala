package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the session posture, the run knobs and the sketch aggregate in
  * one place each: a hand-built session, an ad-hoc environment read or a
  * per-family sketch aggregate anywhere else in `src/main` fails here by
  * file name, and README's variable table must list exactly the names
  * `RunConfig` accepts. */
class SourceGuardSpec extends AnyFunSuite {

  private val sources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map((p: Path) => p.getFileName.toString -> Files.readString(p))
    finally walk.close()
  }

  private def offenders(needles: Seq[String], allowed: String*): Seq[String] =
    sources.collect {
      case (file, text) if !allowed.contains(file) && needles.exists(text.contains) => file
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

  test("TypedImperativeAggregate is extended only by SketchAgg and three non-sketch aggregates") {
    val allowed = Seq("SketchAgg.scala", "FrequentItems.scala", "TopK.scala", "VectorAgg.scala")
    allowed.foreach(f => assert(sources.exists(_._1 == f), f))
    val bad = offenders(Seq("extends TypedImperativeAggregate"), allowed: _*)
    assert(bad.isEmpty, s"add a sketch family as a SketchFamily value: ${bad.mkString(", ")}")
  }

  test("README's Running variable table lists exactly RunConfig.Names") {
    val readme = Files.readString(Paths.get("README.md"))
    val at = readme.indexOf("\n## Running\n")
    assert(at >= 0, "README has no \"## Running\" section")
    val documented = readme.substring(at + 1).linesIterator.drop(1)
      .takeWhile(!_.startsWith("## "))
      .filter(_.startsWith("| `SPARK_GRAFT_"))
      .flatMap(l => "SPARK_GRAFT_[A-Z_]+".r.findAllIn(l.split('|')(1)))
      .toSet
    assert(documented == RunConfig.Names.toSet,
      s"README only: ${(documented -- RunConfig.Names).mkString(", ")}; " +
        s"RunConfig only: ${(RunConfig.Names.toSet -- documented).mkString(", ")}")
  }
}
