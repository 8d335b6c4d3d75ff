package graft

/** One-off provenance tool for `graft.ops.PqCodebookArtifact`: trains the
  * seeded PQ codebooks on a fixture's embeddings and renders them as Scala
  * source. The artifact is TRAIN-ONCE — production PQ serving never
  * re-fits per query batch (that would be rebuilding the index per
  * lookup), it loads a persisted codebook. Freezing the constants in the
  * repo is the local analog of that persisted index artifact, and it is
  * what lets the q137b serving twin exist at all: both Spark and the
  * DuckDB oracle evaluate the SAME literal codebooks, so encode + ADC are
  * bit-comparable across engines.
  *
  * Usage: sbt "runMain graft.PqArtifactGen /root/testdata/sf0.01 \
  *   src/main/scala/graft/ops/PqCodebookArtifact.scala"
  */
object PqArtifactGen {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outFile) = args
    // fixed 8 cores so a regeneration reproduces the committed artifact
    val spark = GraftSession.local(8)
    val books = graft.ops.Similarity.pqTrainCodebooks(
      graft.sources.Tables.embeddings(spark, sfDir), m = 8, kCent = 16, dim = 64)
    val sb = new StringBuilder
    sb ++= "package graft.ops\n\n"
    sb ++= "/** GENERATED by `graft.PqArtifactGen` — do not hand-edit.\n"
    sb ++= s"  * Seeded PQ codebooks (m=${books.length}, kCent=${books(0).length},\n"
    sb ++= s"  * subDim=${books(0)(0).length}) trained once on the sf0.01 embeddings\n"
    sb ++= "  * fixture (KMeans seed 42+j per subspace, unit-normalized input).\n"
    sb ++= "  * Frozen so the PQ SERVING path (encode + ADC) is a pure function\n"
    sb ++= "  * of literals — the q137b oracle twin evaluates these same\n"
    sb ++= "  * constants in DuckDB. Regenerate only if the embedding fixture\n"
    sb ++= "  * family changes shape (dim != 64).\n"
    sb ++= "  */\n"
    sb ++= "object PqCodebookArtifact {\n"
    sb ++= "  val m = 8\n  val kCent = 16\n  val dim = 64\n\n"
    sb ++= "  val books: Array[Array[Array[Double]]] = Array(\n"
    sb ++= books.map { book =>
      "    Array(\n" + book.map { cArr =>
        "      Array(" + cArr.map(_.toString).mkString(", ") + ")"
      }.mkString(",\n") + ")"
    }.mkString(",\n")
    sb ++= ")\n}\n"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"wrote $outFile")
    spark.stop()
  }
}
