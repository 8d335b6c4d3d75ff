package graft

/** One-off provenance tool for `graft.ops.CentroidArtifact` (and its
  * scaled variants): trains the seeded full-dimension k-means centroids
  * SemDeDup assigns cells with and renders them as Scala source. Like
  * `PqArtifactGen`, freezing the constants in the repo is the local analog
  * of a persisted index artifact — cell assignment in production loads
  * centroids, it never re-fits per batch — and it is what gives the q164
  * SemDeDup query a hash-green DuckDB twin: both engines evaluate the SAME
  * literals.
  *
  * k is the SCALE DIAL: in production cells grow ∝ corpus size so that
  * within-cell pair counts stay flat (SemDeDup's quadratic is bounded by
  * cell size). The checked-in k=8 `CentroidArtifact` is the sf0.01-sized
  * instance (q164); `CentroidArtifact64`, regenerated with `k=64` from
  * tools/sf1, is the one q164b and SemDedupScaleSpec run. Any k takes the
  * same assignment path, the `vec_argmin_cell` kernel.
  *
  * Usage: sbt "runMain graft.CentroidArtifactGen /root/testdata/sf0.01 \
  *   src/main/scala/graft/ops/CentroidArtifact.scala [k] [objectName]"
  */
object CentroidArtifactGen {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outFile = args(1)
    val k = if (args.length > 2) args(2).toInt else 8
    val objName = if (args.length > 3) args(3) else "CentroidArtifact"
    // fixed 8 cores so a regeneration reproduces the committed artifact
    val spark = GraftSession.local(8)
    val centers = graft.ops.Similarity.trainCentroids(
      graft.sources.Tables.embeddings(spark, sfDir), k = k)
    val sb = new StringBuilder
    sb ++= "package graft.ops\n\n"
    sb ++= "/** GENERATED by `graft.CentroidArtifactGen` — do not hand-edit.\n"
    sb ++= s"  * Seeded full-dimension k-means centroids (k=${centers.length},\n"
    sb ++= s"  * dim=${centers(0).length}) trained once on the `$sfDir`\n"
    sb ++= "  * embeddings fixture (KMeans seed 42, unit-normalized input) —\n"
    sb ++= "  * frozen cell structure for SemDeDup. Regenerate only if the\n"
    sb ++= "  * embedding fixture family changes shape (dim != 64).\n"
    sb ++= "  */\n"
    sb ++= s"object $objName {\n"
    sb ++= s"  val k = ${centers.length}\n  val dim = ${centers(0).length}\n\n"
    if (centers.length * centers(0).length <= 8192) {
      // small artifacts stay human-readable double literals
      sb ++= "  val centers: Array[Array[Double]] = Array(\n"
      sb ++= centers.map { cArr =>
        "    Array(" + cArr.map(_.toString).mkString(", ") + ")"
      }.mkString(",\n")
      sb ++= ")\n}\n"
    } else {
      // Large-k emission: one double literal per value explodes the JVM
      // class constant pool ("Class too large" around k≈200 at dim=64),
      // so the table ships as base64-packed IEEE-754 bits — the exact
      // same doubles (raw-bit round trip), decoded once at object init.
      // Chunked into ≤32 KB string defs (the JVM caps one string constant
      // at 64 KB UTF-8).
      val bb = java.nio.ByteBuffer.allocate(
        centers.length * centers(0).length * 8)
      centers.foreach(_.foreach(bb.putDouble))
      val b64 = java.util.Base64.getEncoder.encodeToString(bb.array())
      val parts = b64.grouped(32768).toSeq
      parts.zipWithIndex.foreach { case (p, i) =>
        sb ++= s"""  private def b$i: String = "$p"\n"""
      }
      sb ++= "\n  val centers: Array[Array[Double]] = {\n"
      sb ++= "    val buf = java.nio.ByteBuffer.wrap(java.util.Base64.getDecoder\n"
      sb ++= "      .decode(Seq(" + parts.indices.map(i => s"b$i").mkString(", ") +
        ").mkString))\n"
      sb ++= "    Array.fill(k)(Array.fill(dim)(buf.getDouble))\n  }\n}\n"
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"wrote $outFile")
    spark.stop()
  }
}
