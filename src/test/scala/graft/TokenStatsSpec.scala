package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, rng}
import org.scalacheck.Gen.Parameters

import graft.functions.TokenStats

/** `token_stats(text, n)` must equal, field by field, the HOF spellings it
  * replaced: `size(tokens)`, the explode/groupBy max token count, and the
  * size of the word-shingle array and of its `array_distinct` — through the
  * interpreted `eval`, a generated projection, and whole-stage codegen. */
class TokenStatsSpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int): List[A] = {
    val seed = rng.Seed(7L)
    Iterator.iterate((g.pureApply(Parameters.default, seed), seed.next)) {
      case (_, s) => (g.pureApply(Parameters.default, s), s.next)
    }.map(_._1).take(n).toList
  }

  private val Ns = Seq(1, 3, 5)

  /** Words from a 3-word vocabulary (repeated grams, probe collisions), a
    * wider one with multi-byte tokens, joined by runs of 1–3 spaces, with
    * optional leading and trailing spaces; up to 160 tokens, so some
    * documents outgrow the kernel's initial 64-token arrays. */
  private val docs: List[Option[String]] = {
    val tiny = Gen.oneOf("x", "y", "z")
    val wide = Gen.oneOf("a", "bb", "the", "ü", "한국", "日本語", "café", "x", "naïve", "z")
    val doc = for {
      vocab <- Gen.oneOf(tiny, wide)
      len <- Gen.frequency(3 -> Gen.chooseNum(0, 12), 1 -> Gen.chooseNum(60, 160))
      words <- Gen.listOfN(len, vocab)
      gaps <- Gen.listOfN(len + 1, Gen.frequency(4 -> " ", 1 -> "  ", 1 -> "   "))
      lead <- Gen.oneOf("", " ", "  ")
      trail <- Gen.oneOf("", " ", "   ")
    } yield lead + words.zip(gaps).map { case (w, g) => w + g }.mkString.trim + trail
    List(None, Some(""), Some(" "), Some("   "), Some(" a "), Some("a  b"),
      Some("\t"), Some(" \n "), Some("a\tb  c\t"),
      Some("x y x y x y x"), Some((1 to 70).map(i => s"t${i % 9}").mkString(" "))) ++
      sample(doc, 300).map(Some(_))
  }

  private def hofTokens(text: Column): Column = filter(split(text, " "), t => t =!= "")

  /** Word n-gram shingles as q141 and `dupNgramFraction` built them before
    * `token_stats`: the token array let-bound, empty under n tokens. */
  private def shingles(toks: Column, n: Int): Column =
    element_at(
      transform(array(toks), ts =>
        when(size(ts) >= n,
          transform(
            sequence(lit(1), size(ts) - (n - 1)),
            i => concat_ws(" ", (0 until n).map(j => element_at(ts, i + j)): _*)))
          .otherwise(array().cast("array<string>"))),
      1)

  /** Per doc id: the reference fields for each n, and token_stats' fields
    * for each n as whole-stage codegen computes them. */
  private lazy val reference: Map[Int, (Seq[Seq[Long]], Seq[Seq[Long]])] = {
    graft.plans.GraftExtensions.install(spark)
    val df = docs.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "text")
    val toks = hofTokens(col("text"))
    val top = df.select(col("id"), explode(toks).as("tok"))
      .groupBy("id", "tok").count()
      .groupBy("id").agg(max("count").as("top"))
    val fields = Seq("n_tokens", "top_count", "n_grams", "n_distinct")
    df.join(top, Seq("id"), "left")
      .select(col("id") +: Ns.flatMap { n =>
        val sh = shingles(toks, n)
        Seq(
          array(size(coalesce(toks, array().cast("array<string>"))).cast("long"),
            coalesce(col("top"), lit(0L)),
            size(sh).cast("long"), size(array_distinct(sh)).cast("long")),
          TokenStats.token_stats(col("text"), n))
      }: _*)
      .collect().map { r =>
        val ref = Ns.indices.map(k => r.getSeq[Long](1 + 2 * k))
        val fast = Ns.indices.map(k => fields.map(r.getStruct(2 + 2 * k).getAs[Long](_)))
        r.getInt(0) -> ((ref, fast))
      }.toMap
  }

  private def input(t: Option[String]): InternalRow =
    InternalRow(t.map(UTF8String.fromString).orNull)

  private def fieldsOf(row: InternalRow): Seq[Long] = (0 until 4).map(row.getLong)

  test("every field equals its HOF spelling for n in {1, 3, 5}, interpreted, generated and whole-stage") {
    assert(reference.size == docs.size)
    assert(docs.exists(_.exists(_.split(" ").count(_.nonEmpty) > 64)))
    Ns.zipWithIndex.foreach { case (n, k) =>
      val expr = TokenStats(BoundReference(0, StringType, nullable = true), n)
      val generated = GenerateUnsafeProjection.generate(Seq(expr))
      docs.zipWithIndex.foreach { case (t, i) =>
        val (ref, fast) = reference(i)
        val interpreted = fieldsOf(expr.eval(input(t)).asInstanceOf[InternalRow])
        val gen = fieldsOf(generated(input(t)).getStruct(0, 4))
        assert(interpreted == ref(k), s"interpreted, n=$n, text=$t")
        assert(gen == ref(k), s"generated, n=$n, text=$t")
        assert(fast(k) == ref(k), s"whole-stage, n=$n, text=$t")
      }
    }
  }

  test("Text.tokenStats keeps exactly the documents with a token") {
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val kept = graft.ops.Text.tokenStats(df, 3).select("doc_id").as[Long].collect().toSet
    val withToken = docs.zipWithIndex.collect {
      case (_, i) if reference(i)._1.head.head > 0 => i.toLong
    }.toSet
    assert(kept == withToken)
    assert(withToken.size < docs.size)
  }

  test("a NULL text has zero tokens and the struct is never NULL") {
    graft.plans.GraftExtensions.install(spark)
    val r = spark.sql("SELECT token_stats(CAST(NULL AS STRING), 3) AS st").head()
    assert(!r.isNullAt(0))
    assert(r.getStruct(0) == Row(0L, 0L, 0L, 0L))
  }

  test("n must be a literal integer of at least 1, checked at analysis") {
    graft.plans.GraftExtensions.install(spark)
    val nonLiteral = intercept[Exception] {
      spark.sql("SELECT token_stats(s, length(s)) FROM (SELECT 'a b' AS s)").collect()
    }
    assert(msgs(nonLiteral).exists(_.contains("token_stats: argument 2 must be a literal integer")),
      msgs(nonLiteral))
    val zero = intercept[Exception](spark.sql("SELECT token_stats('a b', 0)").collect())
    assert(msgs(zero).exists(_.contains("token_stats: argument 2 must be a positive Int, got 0")),
      msgs(zero))
  }

  test("Text.tokens equals the filter-lambda spelling it replaced") {
    val df = docs.toDF("text")
    val got = df.select(graft.ops.Text.tokens(col("text")), hofTokens(col("text"))).collect()
    got.foreach(r => assert(r.get(0) == r.get(1), r))
    assert(got.count(_.isNullAt(0)) == 1)
  }
}
