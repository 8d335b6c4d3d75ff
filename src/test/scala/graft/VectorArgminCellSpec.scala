package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.functions.VectorArgminCell
import graft.ops.{CentroidArtifact, CentroidArtifact64, PqCodebookArtifact, Similarity}

/** `vec_argmin_cell(v, centroids)`, the one nearest-centroid path of
  * SemDeDup (q164, q164b) and the PQ encoder (q137, q137b): its cell and
  * its distance must equal a Scala brute force — ‖c‖² left-folded, the
  * dot left to right, the first index of the min — bit for bit, through
  * the interpreted `eval`, a generated projection, and whole-stage
  * codegen. Beside it, `vec_dot`, the dot product both the kernel's
  * callers and q177/q216 score with, against its HOF formulation. */
class VectorArgminCellSpec extends SparkSpec {
  import spark.implicits._

  /** Unit-normalized sf0.001 embeddings, as q164's cells see them. */
  private lazy val vectors: Seq[(Long, Array[Double])] = {
    graft.plans.GraftExtensions.install(spark)
    graft.sources.Tables.embeddings(spark, sf())
      .select(col("vec_id"),
        Similarity.unitNorm(Similarity.asDouble(col("embedding"))).as("nv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toSeq
  }

  private def bruteForce(v: Array[Double], cents: Array[Array[Double]]): (Int, Double) = {
    val ds = cents.map { c =>
      c.map(x => x * x).sum -
        2.0 * c.zip(v).foldLeft(0.0) { case (acc, (x, y)) => acc + y * x }
    }
    val cell = ds.indexOf(ds.min)
    (cell, ds(cell))
  }

  private def cellAndD(row: InternalRow): (Int, Double) = (row.getInt(0), row.getDouble(1))

  test("cell and distance equal brute force, interpreted, generated and whole-stage") {
    val sub = 3 // one PQ subspace: the book and the slice it encodes
    val subLen = PqCodebookArtifact.books(sub)(0).length
    val inputs = Seq(
      ("CentroidArtifact", CentroidArtifact.centers, None),
      ("CentroidArtifact64", CentroidArtifact64.centers, None),
      (s"PqCodebookArtifact book $sub", PqCodebookArtifact.books(sub), Some(sub * subLen)))
    val df = spark.sparkContext.parallelize(vectors, 2).toDF("vec_id", "nv")
    inputs.foreach { case (label, cents, from) =>
      def part(v: Array[Double]) = from.fold(v)(f => v.slice(f, f + subLen))
      val expr = VectorArgminCell.build(Seq(
        BoundReference(0, ArrayType(DoubleType), nullable = true),
        Literal.create(cents)))
      val generated = GenerateUnsafeProjection.generate(Seq(expr))
      val arg = from.fold(col("nv"))(f => slice(col("nv"), f + 1, subLen))
      val staged = df.select(col("vec_id"),
        VectorArgminCell.vec_argmin_cell(arg, cents).as("near"))
      assert(staged.queryExecution.executedPlan.exists {
        case w: WholeStageCodegenExec => w.toString.contains("vec_argmin_cell")
        case _ => false
      }, s"$label: no whole-stage stage holds the kernel")
      val wholeStage = staged.collect()
        .map(r => r.getLong(0) -> (r.getStruct(1).getInt(0), r.getStruct(1).getDouble(1))).toMap
      vectors.foreach { case (id, v) =>
        val want = bruteForce(part(v), cents)
        val in = InternalRow(ArrayData.toArrayData(part(v)))
        assert(cellAndD(expr.eval(in).asInstanceOf[InternalRow]) == want, s"$label interpreted, vec $id")
        assert(cellAndD(generated(in).getStruct(0, 2)) == want, s"$label generated, vec $id")
        assert(wholeStage(id) == want, s"$label whole-stage, vec $id")
      }
      assert(vectors.map(v => bruteForce(part(v._2), cents)._1).distinct.size > 1,
        s"$label: every vector fell in one cell")
    }
    val nullIn = VectorArgminCell.build(Seq(
      BoundReference(0, ArrayType(DoubleType), nullable = true),
      Literal.create(CentroidArtifact.centers)))
    assert(nullIn.eval(InternalRow(null)) == null)
    assert(GenerateUnsafeProjection.generate(Seq(nullIn))(InternalRow(null)).isNullAt(0))
    val sqlNull = spark.sql(
      "SELECT vec_argmin_cell(CAST(NULL AS array<double>), array(array(1.0d), array(2.0d)))")
    assert(sqlNull.head().isNullAt(0))
  }

  test("a malformed centroid matrix fails at analysis with its named message") {
    graft.plans.GraftExtensions.install(spark)
    def error(matrix: String): Seq[String] = msgs(intercept[Exception] {
      spark.sql(s"SELECT vec_argmin_cell(v, $matrix) FROM (SELECT array(1.0d) AS v)").collect()
    })
    Seq(
      "array(v)" -> "vec_argmin_cell: argument 2 must be a constant array<array<double>>",
      "CAST(array() AS array<array<double>>)" -> "vec_argmin_cell: the centroid matrix is empty",
      "array(array(1.0d), array(1.0d, 2.0d))" ->
        "vec_argmin_cell: the centroid matrix is ragged: row 1 has 2 values, row 0 has 1",
      "array(array(1.0d), NULL)" -> "vec_argmin_cell: the centroid matrix holds a NULL",
      "array(array(1.0d, CAST(NULL AS DOUBLE)))" -> "vec_argmin_cell: the centroid matrix holds a NULL",
      "CAST(NULL AS array<array<double>>)" -> "vec_argmin_cell: the centroid matrix holds a NULL"
    ).foreach { case (matrix, want) =>
      val got = error(matrix)
      assert(got.exists(_.contains(want)), s"$matrix: $got")
    }
  }

  test("two matrices of one k and one 32-bit content hash keep their own cells") {
    // {{1.0},{3.0}} and {{5.000001905718818},{3.0}} hash alike in the JDK's
    // array content hash (the second value has 5.0's high word and a low
    // word that folds to 1.0's). A Column API that registered one function
    // per matrix, named by k and that hash, gave the second matrix the
    // first one's cells: 0 for both.
    graft.plans.GraftExtensions.install(spark)
    val v = Seq(Tuple1(Seq(1.0))).toDF("v")
    val a = Array(Array(1.0), Array(3.0))
    val b = Array(Array(5.000001905718818), Array(3.0))
    val row = v.select(
      VectorArgminCell.vec_argmin_cell(col("v"), a).getField("cell"),
      VectorArgminCell.vec_argmin_cell(col("v"), b).getField("cell")).head()
    assert(row == Row(0, 1))
  }

  test("vec_dot matches the HOF formulation bit-for-bit and handles nulls") {
    graft.plans.GraftExtensions.install(spark)
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(0.1, -0.2), Array(0.3, 0.7))
    ).toDF("a", "b")
    val got = df.select(
      graft.functions.VectorDot.vec_dot($"a", $"b").as("fast"),
      Similarity.dot($"a", $"b").as("hof")).collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    val withNull = spark.sql("SELECT vec_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d))")
    assert(withNull.head().isNullAt(0))
  }
}
