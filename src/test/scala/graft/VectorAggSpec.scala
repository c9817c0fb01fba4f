package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{ArrayMath, VectorAgg}

/** The vector aggregates against a driver-side sequential fold, bit for
  * bit: the first row initializes the buffer (a set, not 0.0 + x, so -0.0
  * lanes keep their sign), later rows add in row order. Every case runs
  * under the default codegen confs and under the interpreted confs the
  * eigsh loop sets for small inputs. */
class VectorAggSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val Width = 5
  private val knobs = Seq(
    "codegen" -> Seq.empty[(String, String)],
    "no-codegen" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def eachKnob(body: String => Unit): Unit = knobs.foreach { case (name, confs) =>
    withConfs(spark, confs: _*)(body(name)) }

  /** Rows spread over seven decades, so the sum depends on the order the
    * rows are added in; a few lanes are -0.0. Key 3 holds one row whose
    * sums keep a -0.0 lane only when its first row sets the buffer. */
  private def rows(n: Int, seed: Long): Seq[(Long, Array[Double], Double)] = {
    val r = new scala.util.Random(seed)
    def x() = if (r.nextInt(9) == 0) -0.0 else r.nextGaussian() * math.pow(10, r.nextInt(7) - 3)
    (3L, Array(-0.0, 0.0, 1.5, -1.0, 2.0), -2.0) +:
      (1 until n).map(i => (i % 3L, Array.fill(Width)(x()), x()))
  }

  private def bits(a: Seq[Double]) = a.map(java.lang.Double.doubleToRawLongBits)

  private def fold(vs: Seq[Array[Double]])(lanes: Array[Double] => Array[Double]): Seq[Double] =
    vs.map(lanes).foldLeft(Array.emptyDoubleArray) { (buf, x) =>
      if (buf.isEmpty) x.clone() else { buf.indices.foreach(i => buf(i) += x(i)); buf }
    }.toSeq

  private def gramLanes(v: Array[Double]) =
    Array.tabulate(v.length * v.length)(k => v(k % v.length) * v(k / v.length))

  /** Row-major u·vᵀ, as the outer-product sum folds it. */
  private def outerLanes(u: Array[Double], v: Array[Double]) =
    Array.tabulate(u.length * v.length)(k => u(k / v.length) * v(k % v.length))

  /** A second vector per row, of another width (three lanes, one of them
    * -0.0 in key 3's row). */
  private def second(v: Array[Double], w: Double) = Array(w, v(0) * w, -v(1))

  private def oneAgg(df: DataFrame, c: org.apache.spark.sql.Column) =
    df.agg(c).head().getSeq[Double](0)

  test("each op equals a sequential fold bit for bit on one partition, globally and per key") {
    val data = rows(400, 11)
    val df = data.toDF("g", "v", "w").repartition(1).localCheckpoint(true)
    eachKnob { k =>
      val vs = data.map(_._2)
      assert(bits(oneAgg(df, VectorAgg.vectorSum(col("v")))) == bits(fold(vs)(identity)), k)
      assert(bits(oneAgg(df, VectorAgg.axpySum(col("v"), col("w")))) ==
        bits(fold(data.map(t => t._2.map(_ * t._3)))(identity)), k)
      assert(bits(oneAgg(df, VectorAgg.gramSum(col("v")))) == bits(fold(vs)(gramLanes)), k)
      val keyed = df.groupBy(col("g")).agg(VectorAgg.vectorSum(col("v")),
          VectorAgg.axpySum(col("v"), col("w")), VectorAgg.gramSum(col("v")))
        .collect().map(r => r.getLong(0) -> (1 to 3).map(r.getSeq[Double])).toMap
      assert(keyed.keySet == Set(0L, 1L, 2L, 3L), k)
      keyed.foreach { case (g, Seq(s, axpy, gram)) =>
        val mine = data.filter(_._1 == g)
        assert(bits(s) == bits(fold(mine.map(_._2))(identity)), s"$k g=$g")
        assert(bits(axpy) == bits(fold(mine.map(t => t._2.map(_ * t._3)))(identity)), s"$k g=$g")
        assert(bits(gram) == bits(fold(mine.map(_._2))(gramLanes)), s"$k g=$g")
      }
    }
  }

  test("gramSum equals the flattened outer-product vectorSum bit for bit over 3 partitions") {
    val df = rows(3000, 23).toDF("g", "v", "w").repartition(3).localCheckpoint(true)
    assert(df.rdd.getNumPartitions == 3)
    eachKnob { k =>
      val old = oneAgg(df, VectorAgg.vectorSum(
        flatten(transform(col("v"), x => ArrayMath.scale(col("v"), x)))))
      val gram = oneAgg(df, VectorAgg.gramSum(col("v")))
      assert(gram.length == Width * Width, k)
      assert(bits(gram) == bits(old), k)
    }
  }

  test("outerSum equals a sequential fold bit for bit, globally and per key") {
    val data = rows(400, 13)
    val df = data.map { case (g, v, w) => (g, v, second(v, w)) }.toDF("g", "u", "v")
      .repartition(1).localCheckpoint(true)
    val pairs = data.map { case (g, v, w) => (g, v, second(v, w)) }
    eachKnob { k =>
      assert(bits(oneAgg(df, VectorAgg.outerSum(col("u"), col("v")))) ==
        bits(fold(pairs.map(t => outerLanes(t._2, t._3)))(identity)), k)
      assert(bits(oneAgg(df, VectorAgg.outerSum(col("v"), col("u")))) ==
        bits(fold(pairs.map(t => outerLanes(t._3, t._2)))(identity)), k)
      val keyed = df.groupBy(col("g")).agg(VectorAgg.outerSum(col("u"), col("v")))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      assert(keyed.keySet == Set(0L, 1L, 2L, 3L), k)
      keyed.foreach { case (g, o) =>
        val mine = pairs.filter(_._1 == g)
        assert(o.length == Width * 3, s"$k g=$g")
        assert(bits(o) == bits(fold(mine.map(t => outerLanes(t._2, t._3)))(identity)), s"$k g=$g")
      }
    }
  }

  test("gramSum is outerSum with u = v, bit for bit over 3 partitions") {
    val df = rows(3000, 29).toDF("g", "v", "w").repartition(3).localCheckpoint(true)
    eachKnob { k =>
      val both = df.agg(VectorAgg.gramSum(col("v")), VectorAgg.outerSum(col("v"), col("v")),
        VectorAgg.outerSum(col("v"), transform(col("v"), x => x))).head()
      val Seq(gram, outer, copied) = (0 to 2).map(both.getSeq[Double])
      assert(bits(gram) == bits(outer) && bits(gram) == bits(copied), k)
    }
  }

  test("empty input gives the empty array") {
    val df = rows(10, 5).toDF("g", "v", "w").filter(lit(false))
    eachKnob { k =>
      Seq(VectorAgg.vectorSum(col("v")), VectorAgg.axpySum(col("v"), col("w")),
          VectorAgg.gramSum(col("v")), VectorAgg.outerSum(col("v"), col("v"))).foreach { c =>
        val r = df.agg(c).head()
        assert(!r.isNullAt(0) && r.getSeq[Double](0).isEmpty, s"$k $c")
      }
    }
  }

  test("a row with a null vector or a null weight is skipped") {
    val data = rows(200, 31)
    val withNulls = data.zipWithIndex.map { case ((g, v, w), i) =>
      (g, if (i % 7 == 3) None else Some(v), if (i % 11 == 5) None else Some(w)) }
    val df = withNulls.toDF("g", "v", "w").repartition(1).localCheckpoint(true)
    val vs = withNulls.flatMap(_._2)
    val vw = withNulls.collect { case (_, Some(v), Some(w)) => v.map(_ * w) }
    eachKnob { k =>
      assert(bits(oneAgg(df, VectorAgg.vectorSum(col("v")))) == bits(fold(vs)(identity)), k)
      assert(bits(oneAgg(df, VectorAgg.axpySum(col("v"), col("w")))) ==
        bits(fold(vw)(identity)), k)
      assert(bits(oneAgg(df, VectorAgg.gramSum(col("v")))) == bits(fold(vs)(gramLanes)), k)
    }
  }

  test("outerSum skips a row whose first or second vector is null") {
    val data = rows(200, 37)
    val withNulls = data.zipWithIndex.map { case ((g, v, w), i) =>
      (g, if (i % 7 == 3) None else Some(v), if (i % 5 == 1) None else Some(second(v, w))) }
    val df = withNulls.toDF("g", "u", "v").repartition(1).localCheckpoint(true)
    val uv = withNulls.collect { case (_, Some(u), Some(v)) => outerLanes(u, v) }
    eachKnob { k =>
      assert(bits(oneAgg(df, VectorAgg.outerSum(col("u"), col("v")))) ==
        bits(fold(uv)(identity)), k)
    }
  }

  test("rsvdSparse σ on the solver_rsvd_sparse fixture keeps its raw bits") {
    // σ of the benchmark's rank-8 fixture as the sketch Grams gave it
    // before gramSum became outerSum with u = v (local[4], 4 partitions)
    val sv = graft.operators.SolverOps.rsvdSparse(
      graft.queries.SolverQueries.rsvdSparseFixture(spark), 5,
      colDomain = Some(spark.range(8).select(col("id"))), knownNnz = 200000L)
    assert(bits(sv) == RsvdSigmaBits, sv)
  }

  private val RsvdSigmaBits = Seq(4651382222282490869L, 4651381993366231923L,
    4651381924950510430L, 4651381404451459482L, 4651381366808333979L)
}
