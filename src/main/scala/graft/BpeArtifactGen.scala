package graft

import graft.ops.Bpe

/** One-off provenance tool for `graft.ops.BpeMergesArtifact`: runs
  * [[graft.ops.Bpe.train]], the q176 BPE training loop (count adjacent
  * pairs → deterministic argmax → delimited-replace merge), for N rounds
  * on a fixture corpus and renders the learned merge table as Scala
  * source — the train/serve split applied to the TOKENIZER, matching
  * `PqArtifactGen`/`CentroidArtifactGen`: a production tokenizer trains
  * once and the merge table ships as an artifact every ingest job applies.
  * Freezing it in-repo is what gives the q182 tokenize-serving query a
  * hash-green DuckDB twin (both engines apply the SAME literal merges).
  *
  * Usage: sbt "runMain graft.BpeArtifactGen /root/testdata/sf0.01 \
  *   src/main/scala/graft/ops/BpeMergesArtifact.scala [rounds]"
  */
object BpeArtifactGen {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outFile = args(1)
    val rounds = if (args.length > 2) args(2).toInt else 16
    // fixed 8 cores so a regeneration reproduces the committed artifact
    val spark = GraftSession.local(8)
    val (_, merges) = Bpe.train(
      Bpe.encode(graft.sources.Tables.documents(spark, sfDir)), rounds)
    merges.zipWithIndex.foreach { case ((a, b, n), r) =>
      println(s"round ${r + 1}: merge ('$a','$b') count $n")
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
