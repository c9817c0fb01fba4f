package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.ArrayMatVec

/** `ArrayMatVec` through a live session, generated and interpreted: each
  * output lane of M·x is bit for bit the [[graft.functions.ArrayDot]] fold
  * of x with that row of M, and y − M·x subtracts it from y's lane; a null
  * input, a null lane or a shape mismatch gives null. */
class ArrayMatVecSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // no fallback: generated code that fails to compile fails the test
  private val knobs = Seq(
    "codegen" -> Seq("spark.sql.codegen.fallback" -> "false"),
    "no-codegen" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def bits(a: Seq[Double]) = a.map(java.lang.Double.doubleToRawLongBits)

  private def fold(x: Array[Double], row: Array[Double]) = {
    var s = 0.0; var i = 0
    while (i < x.length) { s += x(i) * row(i); i += 1 }
    s
  }

  test("M·x and y − M·x equal per-row dot folds bit for bit") {
    val r = new scala.util.Random(5)
    def lane() = if (r.nextInt(9) == 0) -0.0 else r.nextGaussian() * math.pow(10, r.nextInt(7) - 3)
    val data = (0 until 300).map { id =>
      val l = 1 + id % 6
      val rows = id % 4
      (id.toLong, Array.fill(l)(lane()), Array.fill(rows * l)(lane()), Array.fill(rows)(lane()))
    }
    val df = data.toDF("id", "x", "m", "y").repartition(3).localCheckpoint(true)
    knobs.foreach { case (k, confs) => withConfs(spark, confs: _*) {
      val got = df.select(col("id"), ArrayMatVec.matVec(col("x"), col("m")),
          ArrayMatVec.residual(col("y"), col("x"), col("m")))
        .collect().map(row => row.getLong(0) -> (row.getSeq[Double](1), row.getSeq[Double](2)))
        .toMap
      data.foreach { case (id, x, m, y) =>
        val dots = m.grouped(x.length).map(fold(x, _)).toSeq
        val (mv, res) = got(id)
        assert(bits(mv) == bits(dots), s"$k id=$id")
        assert(bits(res) == bits(y.toSeq.zip(dots).map { case (a, d) => a - d }), s"$k id=$id")
      }
    }}
  }

  test("a null input, a null lane or a shape mismatch gives null") {
    val df = Seq[(Option[Seq[java.lang.Double]], Seq[Double], Seq[Double])](
        (Some(Seq(1.0, 2.0)), Seq(1.0, 2.0, 3.0), Seq(0.0)),       // |m| not a multiple of |x|
        (Some(Seq(1.0, 2.0)), Seq(1.0, 2.0, 3.0, 4.0), Seq(0.0)),  // |y| not |m| / |x|
        (Some(Seq(1.0, null)), Seq(1.0, 2.0), Seq(0.0)),           // a null lane
        (None, Seq(1.0, 2.0), Seq(0.0)))                            // a null vector
      .toDF("x", "m", "y").repartition(2).localCheckpoint(true)
    knobs.foreach { case (k, confs) => withConfs(spark, confs: _*) {
      val got = df.select(ArrayMatVec.matVec(col("x"), col("m")),
        ArrayMatVec.residual(col("y"), col("x"), col("m"))).collect()
        .map(r => (Option(r.getSeq[Double](0)).map(_.toList), Option(r.getSeq[Double](1))))
      assert(got.map(_._1).sortBy(_.toString).toSeq ==
        Seq(None, None, None, Some(List(5.0, 11.0))), k)
      assert(got.forall(_._2.isEmpty), k)
    }}
  }

  test("an empty x with an empty M gives the empty array") {
    val df = Seq((Seq.empty[Double], Seq.empty[Double])).toDF("x", "m")
      .repartition(1).localCheckpoint(true)
    knobs.foreach { case (k, confs) => withConfs(spark, confs: _*) {
      assert(df.select(ArrayMatVec.matVec(col("x"), col("m"))).head().getSeq[Double](0).isEmpty, k)
    }}
  }
}
