package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the session posture, the run knobs and the sketch aggregate in
  * one place each: a hand-built session, an ad-hoc environment read or a
  * per-family sketch aggregate anywhere else in `src/main` fails here by
  * file name, and README's variable table must list exactly the names
  * `RunConfig` accepts. Also keeps the library free of members and SQL
  * functions that only their own specs reach. */
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

  /** Public members of library objects that no other `src/main` or
    * `perfbench/src` file refers to by qualified symbol, kept because a
    * reference feature (its COVERAGE.md id) or a spec that compares a kept
    * path against it (the spec's name) needs them. Everything else a spec
    * alone reaches is deleted with its spec cases. */
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
    "Similarity.bruteForceTopK" -> "PqArtifactSpec, TextSimilaritySpec",
    "Similarity.dot" -> "PQ score identity (TextSimilaritySpec)",
    "Similarity.pqReconstruct" -> "PqArtifactSpec, TextSimilaritySpec")

  /** `text` without comments. With `blankStrings`, string and character
    * literals are emptied as well, so braces inside them do not count;
    * either way every newline stays, so both forms have the same lines.
    * Each literal's source text also goes to `literals`. */
  private def stripped(text: String, blankStrings: Boolean,
      literals: String => Unit = _ => ()): String = {
    val out = new StringBuilder
    val n = text.length
    def newlines(from: Int, to: Int): Unit =
      out.append("\n" * text.substring(from, to).count(_ == '\n'))
    def literal(from: Int, to: Int): Unit = {
      literals(text.substring(from, to))
      if (blankStrings) { out.append("\"\""); newlines(from, to) }
      else out.append(text.substring(from, to))
    }
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

  /** An identifier followed by `.identifier`; the lookahead lets each link
    * of a chain `a.B.c` match, so `graft.ops.Similarity.dot` yields
    * `Similarity.dot`. */
  private val Selection = """\b([A-Za-z_]\w*)(?=\s*\.\s*([A-Za-z_]\w*))""".r
  /** `import p.q.X`, `import p.q.X._` or `import p.q.{A, B => C, _}`:
    * the owner `q` or `X` (the last path segment) and the selectors. */
  private val Import = """\bimport\s+((?:\w+\s*\.\s*)*)(\w+|\{[^}]*\})""".r

  /** The `(object, member)` pairs `text` (comments already stripped)
    * refers to: `Obj.member`, `Alias.member` after `import …Obj => Alias`,
    * or an import of the member itself, of `Obj.{…member…}`, or of
    * `Obj._` for a name the file then uses. A bare name alone is no
    * reference: `dot` in a SQL string does not reach `Similarity.dot`. */
  private def qualifiedRefs(text: String): Set[(String, String)] = {
    val refs = scala.collection.mutable.Set.empty[(String, String)]
    val aliases = scala.collection.mutable.Map.empty[String, String]
    def wildcard(owner: String): Unit = names(text).foreach(n => refs += owner -> n)
    Import.findAllMatchIn(text).foreach { m =>
      val path = m.group(1).split("\\.").map(_.trim).filter(_.nonEmpty)
      val selector = m.group(2)
      if (selector.startsWith("{")) {
        val owner = path.lastOption.getOrElse("")
        selector.drop(1).dropRight(1).split(",").map(_.trim).filter(_.nonEmpty).foreach { item =>
          item.split("=>").map(_.trim) match {
            case Array("_") => wildcard(owner)
            case Array(name) => refs += owner -> name
            case Array(name, alias) =>
              refs += owner -> name
              if (alias != "_") aliases(alias) = name
            case _ =>
          }
        }
      } else if (selector == "_") path.lastOption.foreach(wildcard)
      else path.lastOption.foreach(owner => refs += owner -> selector)
    }
    Selection.findAllMatchIn(text).foreach { m =>
      val obj = m.group(1)
      refs += obj -> m.group(2)
      aliases.get(obj).foreach(o => refs += o -> m.group(2))
    }
    refs.toSet
  }

  private val TopLevel =
    """^(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|sealed\s+|abstract\s+|case\s+|implicit\s+)*(object|class|trait)\s+(\w+)""".r.unanchored
  private val MemberDecl =
    """^\s*((?:@\w+\s+)*(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|override\s+|implicit\s+|lazy\s+|sealed\s+|abstract\s+)*)(def|val|var|type|object|class|trait|case\s+class|case\s+object)\s+([A-Za-z_]\w*)""".r.unanchored

  /** One declaration of a top-level object: `body` is its comment-free
    * source, up to the next declaration of the same object, and `code`
    * the same with its string literals emptied. */
  private final class Member(val owner: String, val name: String,
      val isPublic: Boolean, val isRoot: Boolean) {
    val qualified = s"$owner.$name"
    val body = new StringBuilder
    val code = new StringBuilder
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
          current = new Member(owner.get, name, term && !hidden, root)
          all += current
        case _ =>
      }
      current.body.append(line).append('\n')
      current.code.append(code).append('\n')
      depth += code.count(_ == '{') - code.count(_ == '}')
      assert(depth >= 0, s"$file: unbalanced braces")
    }
    assert(depth == 0, s"$file: unbalanced braces")
    all.toSeq
  }

  /** A file whose leading doc comment says a generator wrote it: its
    * fields (an artifact's `k`, `dim`) describe the data whether or not a
    * reader names them, and the file is rewritten only by its generator. */
  private val Generated = """^package [\w.]+\s*/\*\*\s*GENERATED by""".r.unanchored

  private val benchFiles = scalaFiles("perfbench/src")

  /** Every member of every non-catalog, non-generated `src/main` object,
    * each with its file and whether anything reaches it: a qualified
    * reference from another `src/main` or `perfbench/src` file, or, from
    * a reached member of its own file, a bare name in code or a qualified
    * one anywhere (codegen strings call `graft.functions.Obj.member`). A
    * bare word in a string is no use: the function name a builder passes
    * to `arity` does not reach the Column wrapper of that name. */
  private lazy val library: Seq[(Member, String, Boolean)] = {
    val refs = (mainFiles ++ benchFiles).map { case (p, t) =>
      p.toString -> qualifiedRefs(stripped(t, blankStrings = false))
    }
    mainFiles.collect {
      case (path, text) if !path.toString.contains("/graft/queries/") &&
          !Generated.matches(text) =>
        val file = path.toString
        val ms = members(file, text)
        val outside = refs.collect { case (f, r) if f != file => r }.reduce(_ ++ _)
        val reached = scala.collection.mutable.Set.empty[Member]
        var frontier = ms.filter(m => m.isRoot || outside(m.owner -> m.name))
        while (frontier.nonEmpty) {
          reached ++= frontier
          val named = frontier.flatMap(m => names(m.code.toString)).toSet
          val selected = frontier.flatMap(m => qualifiedRefs(m.body.toString)).toSet
          frontier = ms.filter(m => !reached(m) && (named(m.name) || selected(m.owner -> m.name)))
        }
        ms.map(m => (m, file, reached(m)))
    }.flatten
  }

  test("every public member of a library object is used outside its own specs, or allow-listed with its reason") {
    assert(library.count(_._1.isPublic) > 200,
      "the member scan found too few public members to be reading the sources")
    val unreached = library.collect {
      case (m, file, false) if m.isPublic => m.qualified -> file
    }.toMap
    val extra = unreached.keySet -- ReachedOnlyFromSpecs.keySet
    assert(extra.isEmpty,
      "public members no other src/main or perfbench/src file refers to by qualified symbol " +
        "(delete them with the specs that only pin them, or allow-list a reference feature " +
        "or reference spec): " +
        extra.toSeq.sorted.map(m => s"$m (${unreached(m)})").mkString(", "))
    val stale = ReachedOnlyFromSpecs.keySet -- unreached.keySet
    assert(stale.isEmpty, s"allow-listed but gone or now reached; drop: ${stale.toSeq.sorted.mkString(", ")}")
  }

  /** SQL functions of `GraftExtensions.functions` that no catalog query,
    * pipeline, main or perfbench workload calls, kept for a reference
    * feature (its COVERAGE.md id) or a spec that compares a kept path
    * against them. */
  private val SqlReachedOnlyFromSpecs: Map[String, String] = Map.empty

  test("every registered SQL function is called outside its own specs, or allow-listed with its reason") {
    val registered = graft.plans.GraftExtensions.functions.map(_._1.funcName).toSet
    // string literals of the callers, not of the function library that
    // defines and registers the names: a builder's own
    // `arity(exprs, "<name>", …)` is no call
    val callers = mainFiles.filterNot { case (p, _) =>
      Seq("/graft/functions/", "/graft/plans/").exists(p.toString.contains)
    } ++ benchFiles
    val literalNames = scala.collection.mutable.Set.empty[String]
    callers.foreach { case (_, t) =>
      stripped(t, blankStrings = true, lit => literalNames ++= names(lit))
    }
    val wrapped = library.collect { case (m, _, true) => m.body.toString }
      .flatMap("""call_function\(\s*"(\w+)"""".r.findAllMatchIn(_).map(_.group(1))).toSet
    val unreached = registered -- literalNames -- wrapped
    assert((registered -- unreached).size > 10,
      "the literal scan found too few calls to be reading the sources")
    val extra = unreached -- SqlReachedOnlyFromSpecs.keySet
    assert(extra.isEmpty,
      "registered SQL functions no string literal in src/main (outside graft/functions and " +
        "graft/plans) or perfbench/src names, and whose Column wrapper nothing reaches " +
        "(delete them with the specs that only pin them, or allow-list a reference feature " +
        s"or reference spec): ${extra.toSeq.sorted.mkString(", ")}")
    val stale = SqlReachedOnlyFromSpecs.keySet -- unreached
    assert(stale.isEmpty, s"allow-listed but gone or now reached; drop: ${stale.toSeq.sorted.mkString(", ")}")
  }
}
