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
  * same assignment path, the `vec_argmin_cell` kernel; the artifact holds
  * one double literal per value, so k·dim is capped at 8192 (k ≤ 128 at
  * dim 64).
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
    // one double literal per value, so the artifact stays far below the
    // JVM class constant-pool limit ("Class too large" near k≈200 at dim=64)
    val dim = centers(0).length
    require(k * dim <= 8192,
      s"k * dim = ${k * dim} exceeds 8192, the most values a literal centroid artifact holds")
    val sb = new StringBuilder
    sb ++= "package graft.ops\n\n"
    sb ++= "/** GENERATED by `graft.CentroidArtifactGen` — do not hand-edit.\n"
    sb ++= s"  * Seeded full-dimension k-means centroids (k=${centers.length},\n"
    sb ++= s"  * dim=$dim) trained once on the `$sfDir`\n"
    sb ++= "  * embeddings fixture (KMeans seed 42, unit-normalized input) —\n"
    sb ++= "  * frozen cell structure for SemDeDup. Regenerate only if the\n"
    sb ++= "  * embedding fixture family changes shape (dim != 64).\n"
    sb ++= "  */\n"
    sb ++= s"object $objName {\n"
    sb ++= s"  val k = ${centers.length}\n  val dim = $dim\n\n"
    sb ++= "  val centers: Array[Array[Double]] = Array(\n"
    sb ++= centers.map { cArr =>
      "    Array(" + cArr.map(_.toString).mkString(", ") + ")"
    }.mkString(",\n")
    sb ++= ")\n}\n"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"wrote $outFile")
    spark.stop()
  }
}
