package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-off provenance tool for `graft.ops.BpeMergesArtifact`: runs the
  * q176 BPE training loop (count adjacent pairs → deterministic-argmax →
  * delimited-replace merge, per-round localCheckpoint) for N rounds on a
  * fixture corpus and renders the learned merge table as Scala source —
  * the train/serve split applied to the TOKENIZER, matching
  * `PqArtifactGen`/`CentroidArtifactGen`: a production tokenizer trains
  * once and the merge table ships as an artifact every ingest job applies.
  * Freezing it in-repo is what gives the q182 tokenize-serving query a
  * hash-green DuckDB twin (both engines apply the SAME literal merges).
  *
  * Usage: sbt "runMain graft.BpeArtifactGen /root/testdata/sf0.01 \
  *   src/main/scala/graft/ops/BpeMergesArtifact.scala [rounds]"
  */
object BpeArtifactGen {

  /** q176's delimited encoding: '|tok||tok|' with empty and
    * delimiter-containing tokens filtered out on both engines. `keep`
    * names the passenger columns carried beside the encoding (doc_id for
    * training/q182, lang for q190's per-language rollup). */
  def encode(docs: DataFrame, keep: Seq[String] = Seq("doc_id")): DataFrame =
    docs.select(keep.map(col) :+
      concat(lit("|"), array_join(filter(split(col("text"), " "), x =>
        x =!= "" && !x.contains("|") && !x.contains("+")), "||"),
        lit("|")).as("s"): _*)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outFile = args(1)
    val rounds = if (args.length > 2) args(2).toInt else 16
    // fixed 8 cores so a regeneration reproduces the committed artifact
    val spark = GraftSession.local(8)

    def toks(sc: org.apache.spark.sql.Column) =
      split(regexp_replace(sc, "^\\||\\|$", ""), "\\|\\|")

    var corpus = encode(graft.sources.Tables.documents(spark, sfDir))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    for (r <- 1 to rounds) {
      val w = corpus
        .select(toks(col("s")).as("t"))
        .select(explode(transform(sequence(lit(1), size(col("t")) - 1), i =>
          struct(element_at(col("t"), i).as("a"),
            element_at(col("t"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("a").asc, col("b").asc)
        .limit(1).collect()(0)
      val (a, b, n) = (w.getString(0), w.getString(1), w.getLong(2))
      merges += ((a, b, n))
      // per-round checkpoint: bounded lineage at training depth (the
      // production form q176's Scaladoc documents)
      corpus = corpus.select(col("doc_id"),
        call_function("replace", col("s"),
          lit(s"|$a||$b|"), lit(s"|$a+$b|")).as("s")).localCheckpoint()
      println(s"round $r: merge ('$a','$b') count $n")
    }

    def esc(s: String): String =
      s.flatMap {
        case '\\' => "\\\\"
        case '"'  => "\\\""
        case c if c < ' ' || c > '~' => f"\\u${c.toInt}%04x"
        case c    => c.toString
      }
    val sb = new StringBuilder
    sb ++= "package graft.ops\n\n"
    sb ++= "/** GENERATED by `graft.BpeArtifactGen` — do not hand-edit.\n"
    sb ++= s"  * Ordered BPE merge table (${merges.length} rounds) trained once on\n"
    sb ++= s"  * the `$sfDir` documents fixture by the q176 loop — the frozen\n"
    sb ++= "  * tokenizer artifact q182 serves. Third element = the pair count\n"
    sb ++= "  * at the round it won (training provenance, not used in serving).\n"
    sb ++= "  */\n"
    sb ++= "object BpeMergesArtifact {\n"
    sb ++= "  val merges: Seq[(String, String, Long)] = Seq(\n"
    sb ++= merges.map { case (a, b, n) =>
      s"""    ("${esc(a)}", "${esc(b)}", ${n}L)"""
    }.mkString(",\n")
    sb ++= ")\n}\n"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"wrote $outFile")
    spark.stop()
  }
}
