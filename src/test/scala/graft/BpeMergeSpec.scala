package graft

import org.apache.spark.sql.functions._

import graft.ops.Bpe

/** q176's load-bearing trick, pinned: applying a BPE merge to a
  * '|tok||tok|'-delimited string via literal `replace` must equal the
  * imperative greedy left-to-right non-overlapping merge. The spec runs
  * both on real fixture docs AND on the adversarial shapes (overlapping
  * runs like "a a a a", pair-at-start/end, merged-token re-merge) where a
  * wrong overlap semantics would diverge, and checks `Bpe.train` against
  * an imperative trainer built on the same greedy merge. */
class BpeMergeSpec extends SparkSpec {
  import spark.implicits._

  /** Imperative reference: standard greedy BPE merge application. */
  private def greedyMerge(toks: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < toks.length) {
      if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
        out += s"$a+$b"; i += 2
      } else { out += toks(i); i += 1 }
    }
    out.toSeq
  }

  /** Imperative reference trainer: each round merges the most frequent
    * adjacent pair (ties: left, then right token ascending) with
    * [[greedyMerge]], and stops early when no pair is left. */
  private def greedyTrain(docs: Seq[Seq[String]], rounds: Int): Seq[Bpe.Merge] = {
    val merges = scala.collection.mutable.ArrayBuffer.empty[Bpe.Merge]
    var corpus = docs
    var pairs = corpus.flatMap(t => t.zip(t.drop(1)))
    while (merges.length < rounds && pairs.nonEmpty) {
      val ((a, b), n) = pairs.groupBy(identity).view.mapValues(_.size.toLong).toSeq
        .minBy { case ((x, y), n) => (-n, x, y) }
      merges += ((a, b, n))
      corpus = corpus.map(greedyMerge(_, a, b))
      pairs = corpus.flatMap(t => t.zip(t.drop(1)))
    }
    merges.toSeq
  }

  private def encoded(texts: Seq[String]) =
    Bpe.encode(texts.zipWithIndex.map(_.swap).toDF("id", "text"), Seq("id"))

  /** Each text's tokens after `merges`, applied through `Bpe.merged`. */
  private def sparkMerge(texts: Seq[String], merges: (String, String)*): Seq[Seq[String]] =
    encoded(texts)
      .select(col("id"), Bpe.tokens(Bpe.merged(col("s"),
        merges.map { case (a, b) => (a, b, 0L) })).as("toks"))
      .orderBy(col("id"))
      .collect().map(_.getSeq[String](1).toSeq).toSeq

  test("delimited replace equals greedy merge on adversarial shapes") {
    val cases = Seq(
      "a a a a a",          // odd overlap run: (a+a)(a+a)a
      "a a",                // pair is the whole doc
      "x a a",              // pair at end
      "a a x",              // pair at start
      "a x a a x a a a",    // mixed
      "b a a b a")          // pair bracketed
    val got = sparkMerge(cases, ("a", "a"))
    val want = cases.map(t => greedyMerge(t.split(" ").toSeq, "a", "a"))
    assert(got == want, s"\ngot  $got\nwant $want")
  }

  test("merged tokens re-merge correctly in a second round") {
    // round 1 merges (a,a); round 2 merges (a+a, b) — the merged token is
    // an ordinary token for later rounds
    val r1 = sparkMerge(Seq("a a b a a b c"), ("a", "a")).head
    assert(r1 == Seq("a+a", "b", "a+a", "b", "c"))
    val r2 = sparkMerge(Seq("a a b a a b c"), ("a", "a"), ("a+a", "b")).head
    assert(r2 == Seq("a+a+b", "a+a+b", "c"))
  }

  test("q176 encoding filter: boundary spaces and delimiter chars are safe") {
    // Texts with leading/trailing/double spaces produce empty boundary
    // tokens, and tokens containing '|' or '+' would corrupt the
    // delimited encoding — q176 filters them out before encoding on BOTH
    // engines. Pin that the filtered encode → strip → split round-trip
    // yields exactly the filtered token list (so trim-all-pipes in the
    // twin and strip-one-pipe in Spark agree).
    val texts = Seq(
      " leading space",
      "trailing space ",
      "double  space gap",
      "has|pipe tok normal",
      "has+plus tok normal",
      "  ",
      "ok ok ok")
    val got = sparkMerge(texts)
    val want = texts.map(_.split(" ").toSeq
      .filter(t => t.nonEmpty && !t.contains("|") && !t.contains("+")))
      // an all-filtered doc encodes as "||" → strips to "" → splits to [""],
      // mirroring DuckDB's string_split('', '||') = [''] — both engines
      // count it as one empty token, consistently
      .map(t => if (t.isEmpty) Seq("") else t)
    assert(got == want, s"\ngot  $got\nwant $want")
  }

  test("replace merge equals greedy merge on real fixture docs") {
    val docs = graft.sources.Tables.documents(spark, sf())
      .select(col("text")).limit(50).collect().map(_.getString(0)).toSeq
    // use the fixture's actual most-frequent adjacent pair
    val pairs = docs.flatMap { t =>
      val tk = t.split(" "); tk.zip(tk.drop(1))
    }
    val (a, b) = pairs.groupBy(identity).view.mapValues(_.size).toSeq
      .sortBy { case ((x, y), n) => (-n, x, y) }.head._1
    val got = sparkMerge(docs, (a, b))
    val want = docs.map(t => greedyMerge(t.split(" ").toSeq, a, b))
    assert(got == want)
  }

  test("Bpe.train equals the imperative trainer: count ties, single-token docs, early stop") {
    // round 1 ties (a,a), (b,c) and (x,y) at 2 and round 2 ties (b,c)
    // and (x,y): the left token decides. Round 4 ties four pairs at 1,
    // where "a" < "a+a" decides. "z" never has a pair, "a c" and
    // "a a a" merge down to one token, and no pair is left after 7 rounds.
    val texts = Seq("x y x y", "b c b c", "a a a", "z", "a c")
    val want = greedyTrain(texts.map(_.split(" ").toSeq), 10)
    assert(want.map(m => (m._1, m._2)) == Seq(("a", "a"), ("b", "c"), ("x", "y"),
      ("a", "c"), ("a+a", "a"), ("b+c", "b+c"), ("x+y", "x+y")))
    val (corpus, merges) = Bpe.train(encoded(texts), 10)
    assert(merges == want)
    assert(Bpe.train(encoded(texts), 3)._2 == want.take(3))
    // the checkpointed corpus replays to every round's greedy tokens
    val replayed = corpus.select(Bpe.tokens(Bpe.merged(col("s"), merges)))
      .collect().map(_.getSeq[String](0).toSeq).toSet
    assert(replayed == want.foldLeft(texts.map(_.split(" ").toSeq)) {
      case (c, (a, b, _)) => c.map(greedyMerge(_, a, b))
    }.toSet)
  }
}
