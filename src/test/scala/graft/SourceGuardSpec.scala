package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the session posture, the run knobs and the sketch aggregate in
  * one place each: a hand-built session, an ad-hoc environment read or a
  * per-family sketch aggregate anywhere else in `src/main` fails here by
  * file name, and README's variable table must list exactly the names
  * `RunConfig` accepts. Also keeps the library free of members that only
  * their own specs reach. */
class SourceGuardSpec extends AnyFunSuite {

  private def scalaFiles(dir: String): Seq[(Path, String)] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList.sorted
      .map((p: Path) => p -> Files.readString(p))
    finally walk.close()
  }

  private val mainFiles = scalaFiles("src/main/scala")

  private val sources: Seq[(String, String)] =
    mainFiles.map { case (p, text) => p.getFileName.toString -> text }

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

  /** Public members of library objects that nothing in `src/main` or
    * `perfbench/src` names, kept because a reference feature (its
    * COVERAGE.md id) or a spec that compares a kept path against it (the
    * spec's name) needs them. Everything else a spec alone reaches is
    * deleted with its spec cases. */
  private val ReachedOnlyFromSpecs: Map[String, String] = Map(
    "Bronze.readJson" -> "S1",
    "Bronze.readJsonQuarantined" -> "P3",
    "Bronze.toEventJson" -> "K1",
    "Bronze.writeJson" -> "K1",
    "Bronze.writeOrc" -> "K2",
    "Bronze.readOrc" -> "K2",
    "Bronze.writeParquetPartitioned" -> "K2",
    "Bronze.writeDelta" -> "K2 (gold Delta)",
    "Events.readKafkaStream" -> "T2",
    "Events.latestPerUser" -> "T4, W2",
    "Events.latestPerUserExpiring" -> "T4",
    "RefFunctions.cleanRate" -> "P1, F1",
    "RefFunctions.currencyCode" -> "P2",
    "Schemas.asExchangeGold" -> "gold records (SchemasSpec)",
    "Schemas.asTrendGold" -> "gold records (SchemasSpec)",
    "SparkEntry.entry" -> "smoke entry point (FixtureCanarySpec)",
    "RollingHash.hashString" -> "RollingHashSpec, PropertySpec",
    "SemDedup.assignCells" -> "SemDedupScaleSpec",
    "Similarity.bruteForceTopK" -> "PqArtifactSpec, TextSimilaritySpec",
    "Similarity.pqReconstruct" -> "PqArtifactSpec, TextSimilaritySpec")

  /** `text` without comments. With `blankStrings`, string and character
    * literals are emptied as well, so braces inside them do not count;
    * either way every newline stays, so both forms have the same lines. */
  private def stripped(text: String, blankStrings: Boolean): String = {
    val out = new StringBuilder
    val n = text.length
    def newlines(from: Int, to: Int): Unit =
      out.append("\n" * text.substring(from, to).count(_ == '\n'))
    def literal(from: Int, to: Int): Unit =
      if (blankStrings) { out.append("\"\""); newlines(from, to) }
      else out.append(text.substring(from, to))
    var i = 0
    while (i < n) {
      if (text.startsWith("//", i)) {
        val j = text.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (text.startsWith("/*", i)) {
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (text.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (text.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        newlines(i, j)
        i = j
      } else if (text.startsWith("\"\"\"", i)) {
        val close = text.indexOf("\"\"\"", i + 3)
        var j = if (close < 0) n else close + 3
        while (j < n && text(j) == '"') j += 1
        literal(i, j)
        i = j
      } else if (text(i) == '"') {
        var j = i + 1
        while (j < n && text(j) != '"' && text(j) != '\n') j += (if (text(j) == '\\') 2 else 1)
        j = (j + 1).min(n)
        literal(i, j)
        i = j
      } else if (text(i) == '\'' && i + 2 < n && text(i + 2) == '\'') {
        literal(i, i + 3)
        i += 3
      } else if (text(i) == '\'' && i + 1 < n && text(i + 1) == '\\') {
        val j = text.indexOf('\'', i + 2) + 1
        literal(i, j)
        i = j
      } else {
        out.append(text(i))
        i += 1
      }
    }
    out.toString
  }

  private val Identifier = "[A-Za-z_][A-Za-z0-9_]*".r
  private def names(text: String): Set[String] = Identifier.findAllIn(text).toSet

  private val TopLevel =
    """^(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|sealed\s+|abstract\s+|case\s+|implicit\s+)*(object|class|trait)\s+(\w+)""".r.unanchored
  private val MemberDecl =
    """^\s*((?:@\w+\s+)*(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|override\s+|implicit\s+|lazy\s+|sealed\s+|abstract\s+)*)(def|val|var|type|object|class|trait|case\s+class|case\s+object)\s+([A-Za-z_]\w*)""".r.unanchored

  /** One declaration of a top-level object: `body` is its comment-free
    * source, up to the next declaration of the same object. */
  private final class Member(val qualified: String, val name: String,
      val isPublic: Boolean, val isRoot: Boolean) {
    val body = new StringBuilder
  }

  /** The members of every top-level object in `text`, plus one pseudo
    * member holding everything else (imports, classes, traits), which
    * counts as reached. */
  private def members(file: String, text: String): Seq[Member] = {
    val kept = stripped(text, blankStrings = false).split("\n", -1)
    val blank = stripped(text, blankStrings = true).split("\n", -1)
    assert(kept.length == blank.length, file)
    val other = new Member(s"$file (outside objects)", "", isPublic = false, isRoot = true)
    val all = scala.collection.mutable.ArrayBuffer(other)
    var current = other
    var owner: Option[String] = None // the enclosing top-level object
    var depth = 0
    kept.zip(blank).foreach { case (line, code) =>
      if (depth == 0) code match {
        case TopLevel(kind, name) =>
          owner = if (kind == "object") Some(name) else None
          current = other
        case _ =>
      } else if (depth == 1 && owner.nonEmpty) code match {
        case MemberDecl(mods, kind, name) =>
          val term = Set("def", "val", "var")(kind)
          val hidden = Seq("private", "protected", "override", "implicit").exists(mods.contains)
          // a main runs by itself; overrides, implicits and apply/unapply are used unnamed
          val root = Seq("override", "implicit").exists(mods.contains) ||
            Set("main", "apply", "unapply")(name)
          current = new Member(s"${owner.get}.$name", name, term && !hidden, root)
          all += current
        case _ =>
      }
      current.body.append(line).append('\n')
      depth += code.count(_ == '{') - code.count(_ == '}')
      assert(depth >= 0, s"$file: unbalanced braces")
    }
    assert(depth == 0, s"$file: unbalanced braces")
    all.toSeq
  }

  test("every public member of a library object is used outside its own specs, or allow-listed with its reason") {
    val texts = (mainFiles ++ scalaFiles("perfbench/src")).map { case (p, t) =>
      p.toString -> names(stripped(t, blankStrings = false))
    }
    val library = mainFiles.collect {
      case (path, text) if !path.toString.contains("/graft/queries/") =>
        path.toString -> members(path.toString, text)
    }
    assert(library.flatMap(_._2).count(_.isPublic) > 200,
      "the member scan found too few public members to be reading the sources")
    val unreached = library.flatMap { case (file, ms) =>
      val outside = texts.collect { case (f, ns) if f != file => ns }.reduce(_ ++ _)
      val reached = scala.collection.mutable.Set.empty[Member]
      var frontier = ms.filter(m => m.isRoot || outside(m.name))
      while (frontier.nonEmpty) {
        reached ++= frontier
        val named = frontier.flatMap(m => names(m.body.toString)).toSet
        frontier = ms.filter(m => !reached(m) && named(m.name))
      }
      ms.filter(m => m.isPublic && !reached(m)).map(m => m.qualified -> file)
    }.toMap
    val extra = unreached.keySet -- ReachedOnlyFromSpecs.keySet
    assert(extra.isEmpty,
      "public members nothing in src/main or perfbench/src reaches (delete them with the " +
        "specs that only pin them, or allow-list a reference feature or reference spec): " +
        extra.toSeq.sorted.map(m => s"$m (${unreached(m)})").mkString(", "))
    val stale = ReachedOnlyFromSpecs.keySet -- unreached.keySet
    assert(stale.isEmpty, s"allow-listed but gone or now reached; drop: ${stale.toSeq.sorted.mkString(", ")}")
  }
}
