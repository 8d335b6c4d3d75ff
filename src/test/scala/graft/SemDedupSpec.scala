package graft

import org.apache.spark.sql.functions._

import graft.ops.{CentroidArtifact, CentroidArtifact64, SemDedup, Similarity}

/** SemDeDup (q164): frozen-centroid cell assignment + within-cell cosine
  * dedup. The oracle row proves cross-engine agreement; this spec proves
  * the SEMANTICS against brute force on the real fixture — the drop rule,
  * the provenance pointer, and the cell-blocking recall boundary. */
class SemDedupSpec extends SparkSpec {

  private val sfDir = sf()
  private def emb = graft.sources.Tables.embeddings(spark, sfDir)

  private def normalized: Map[Long, Array[Double]] = {
    graft.plans.GraftExtensions.install(spark) // unitNorm's vec_norm
    emb.select(col("vec_id"),
      Similarity.unitNorm(Similarity.asDouble(col("embedding"))).as("nv"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .toMap
  }

  test("drop rule matches brute force within cells") {
    val nv = normalized
    val out = SemDedup.semDedup(emb, tau = 0.40).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getBoolean(3)))
    assert(out.length == nv.size)
    val cells = out.map(t => t._1 -> t._2).toMap
    def cos(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    for ((id, cell, dupOf, kept) <- out) {
      val expected = out
        .filter(o => o._1 < id && o._2 == cell && cos(nv(o._1), nv(id)) >= 0.40)
        .map(_._1).sorted.headOption
      assert(dupOf == expected, s"vec $id: dup_of $dupOf, brute force $expected")
      assert(kept == dupOf.isEmpty)
      // provenance pointer is always a lower id in the SAME cell
      dupOf.foreach(lo => assert(lo < id && cells(lo) == cell))
    }
    // fixture has a nontrivial dropped set at tau=0.40 (measured: 22)
    assert(out.count(!_._4) >= 10, "expected a nontrivial dropped set")
  }

  test("cell assignment is the argmin over the frozen centroids") {
    val nv = normalized
    Seq(CentroidArtifact.centers, CentroidArtifact64.centers).foreach { cents =>
      val cells = SemDedup.semDedup(emb, tau = 0.40, cents).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      for ((id, v) <- nv) {
        val dists = cents.map { c =>
          c.map(x => x * x).sum -
            2.0 * c.zip(v).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
        }
        assert(cells(id) == dists.indexOf(dists.min), s"k=${cents.length}: vec $id cell mismatch")
      }
    }
  }

  test("raising tau only shrinks the dropped set (monotonicity)") {
    def dropped(tau: Double) = SemDedup.semDedup(emb, tau).collect()
      .filter(!_.getBoolean(3)).map(_.getLong(0)).toSet
    val loose = dropped(0.35)
    val tight = dropped(0.45)
    assert(tight.subsetOf(loose),
      s"tau=0.45 dropped ${tight.diff(loose)} that tau=0.35 kept")
    assert(tight.size < loose.size, "fixture should separate the two taus")
  }

  test("deterministic across runs") {
    def run() = SemDedup.semDedup(emb, tau = 0.40).collect()
      .map(r => (r.getLong(0), r.getInt(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(run() == run())
  }
}
