package graft

import breeze.linalg.{eigSym, DenseMatrix}
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import org.scalacheck.Test.Parameters
import graft.operators.SolverOps

/** Property test for the Lanczos eigsh: with the iteration budget ≥ n the
  * Krylov space is the whole space and the smallest-k eigenvalues are
  * exact for ANY symmetric matrix — random dense-ish, sparse, and
  * diagonal cases all reduce to the same contract vs Breeze's eigSym.
  * Small n keeps each sample on the local-SpMV dispatch (driver loop,
  * sub-second). */
object EigshProps extends Properties("LanczosEigsh") {

  override def overrideParameters(p: Parameters): Parameters =
    p.withMinSuccessfulTests(6)

  private lazy val spark = TestSpark.spark

  private val caseGen = for {
    n <- Gen.choose(5, 25)
    k <- Gen.choose(1, 3)
    density <- Gen.choose(2, 10) // keep ~density/10 of off-diagonal entries
    seed <- Gen.choose(0L, 100000L)
  } yield (n, k, density, seed)

  property("smallest-k eigenvalues match Breeze for random symmetric matrices") =
    forAll(caseGen) { case (n, k, density, seed) =>
      val rng = new scala.util.Random(seed)
      val dense = DenseMatrix.zeros[Double](n, n)
      for (i <- 0 until n; j <- i until n) {
        val keep = i == j || rng.nextInt(10) < density
        if (keep) {
          val v = rng.nextDouble() * 4 - 2
          dense(i, j) = v; dense(j, i) = v
        }
      }
      import spark.implicits._
      val entries = for {
        i <- 0 until n; j <- 0 until n if dense(i, j) != 0.0
      } yield (i.toLong, j.toLong, dense(i, j))
      val coo = entries.toDF("row", "col", "value")
      val got = SolverOps.eigshSmallest(coo, n, k, m = n + 5)
      val exact = eigSym(dense).eigenvalues.toArray.sorted.take(k)
      val ok = got.zip(exact).forall { case (g, e) =>
        math.abs(g - e) < 1e-7 * math.max(1.0, math.abs(e))
      }
      Prop(ok) :| s"n=$n k=$k got=${got.toList} exact=${exact.toList}"
    }

  property("BLOCK sharded Lanczos matches Breeze for random symmetric matrices") =
    forAll(caseGen, Gen.oneOf(1, 2)) { case ((n, k, density, seed), b) =>
      // same contract as above through the sharded loop at block width
      // b ∈ {1, 2}: with the lane budget ≥ n the Krylov space exhausts, the
      // rank-deficient block Gram fires the invariant exit, and
      // Rayleigh-Ritz is exact
      val rng = new scala.util.Random(seed)
      val dense = DenseMatrix.zeros[Double](n, n)
      for (i <- 0 until n; j <- i until n) {
        val keep = i == j || rng.nextInt(10) < density
        if (keep) {
          val v = rng.nextDouble() * 4 - 2
          dense(i, j) = v; dense(j, i) = v
        }
      }
      import spark.implicits._
      val entries = for {
        i <- 0 until n; j <- 0 until n if dense(i, j) != 0.0
      } yield (i.toLong, j.toLong, dense(i, j))
      val coo = entries.toDF("row", "col", "value")
      val (got, _) = SolverOps.eigshSharded(coo, n, k, m = n + 4, b = b, maxRestarts = 0)
      val exact = eigSym(dense).eigenvalues.toArray.sorted.take(k)
      val ok = got.zip(exact).forall { case (g, e) =>
        math.abs(g - e) < 1e-7 * math.max(1.0, math.abs(e))
      }
      Prop(ok) :| s"n=$n k=$k b=$b got=${got.toList} exact=${exact.toList}"
    }
}
