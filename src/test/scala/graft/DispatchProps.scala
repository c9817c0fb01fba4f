package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import org.scalacheck.Test.Parameters
import org.apache.spark.sql.functions._
import graft.operators.{LabelOps, SolverOps}

/** Size-dispatch equivalence, property-tested: the driver-local fast
  * paths (union-find CC, Kruskal MST) must produce EXACTLY the result of
  * the distributed paths (pointer-jumping rounds, Borůvka rounds) on
  * arbitrary random graphs — not just the fixtures the specs pin. Each
  * sample runs both paths through the live session (forcing the
  * distributed branch with localThreshold = -1), so this is the actual
  * dispatch seam under test. Kept to few samples — each is a full
  * iterative Spark job.
  */
object DispatchProps extends Properties("SizeDispatch") {

  override def overrideParameters(p: Parameters): Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = TestSpark.spark

  /** `body`'s result and the `prefix` counters it added: the tier a size
    * dispatch took. */
  private def tierCounted[T](prefix: String)(body: => T): (T, Map[String, Long]) =
    Instrument.withExclusive {
      val before = Instrument.snapshot()
      val out = body
      (out, Instrument.since(before).filter(_._1.startsWith(prefix)))
    }

  private val edgeGen: Gen[List[(Long, Long)]] =
    Gen.choose(5, 40).flatMap { n =>
      Gen.choose(n - 1, 3 * n).flatMap { m =>
        Gen.listOfN(m, for {
          a <- Gen.choose(0L, n.toLong - 1)
          b <- Gen.choose(0L, n.toLong - 1)
          if a != b
        } yield (a, b))
      }
    }.suchThat(_.nonEmpty)

  property("connected components: local union-find == distributed pointer-jumping") =
    forAll(edgeGen) { edges =>
      import spark.implicits._
      val df = edges.toDF("src", "dst")
      def labels(threshold: Long) = tierCounted("cc.tier.") {
        LabelOps.connectedComponents(df, localThreshold = threshold)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      val (local, localTier) = labels(Long.MaxValue)
      val (dist, distTier) = labels(-1L)
      Prop(local == dist) :| s"local=$local dist=$dist" &&
        Prop(localTier == Map("cc.tier.local" -> 1L)) :| s"local branch counted $localTier" &&
        Prop(distTier == Map("cc.tier.distributed" -> 1L)) :| s"distributed branch counted $distTier"
    }

  property("MST: local Kruskal == distributed Boruvka (same tie-break)") =
    forAll(edgeGen) { edges =>
      import spark.implicits._
      // deterministic distinct-ish weights from the endpoints; symmetric
      val df = edges.toDF("src", "dst")
        .select(col("src"), col("dst"),
          (pmod(col("src") * 31 + col("dst") * 17, lit(97L)).cast("double") / 97.0
            + lit(0.001)).as("value"))
      val sym = df.unionByName(
        df.select(col("dst").as("src"), col("src").as("dst"), col("value")))
      def forest(threshold: Long) = tierCounted("mst.tier.") {
        SolverOps.boruvkaMst(sym, localThreshold = threshold)
          .collect().map(r => (r.getLong(0), r.getLong(1),
            math.rint(r.getDouble(2) * 1e9))).toSet
      }
      val (local, localTier) = forest(Long.MaxValue)
      val (dist, distTier) = forest(-1L)
      Prop(local == dist) :| s"local=$local dist=$dist" &&
        Prop(localTier == Map("mst.tier.local" -> 1L)) :| s"local branch counted $localTier" &&
        Prop(distTier == Map("mst.tier.distributed" -> 1L)) :| s"distributed branch counted $distTier"
    }

  // VERDICT r10 item 3: the block-width lever now has a dispatch rule,
  // pinned here. Floors (SCALE.md round-11): b=2 is floor-best at every
  // probed size (n=1e5/1e6/4e6 diag fixture), so the measured default is
  // 2; the k/m clamp is structural (the certificate needs fully-measured
  // lanes past k inside the basis cap).
  property("eigsh block-width dispatch: measured default 2, structural k/m clamp") =
    forAll(Gen.choose(1L, 100000000L), Gen.choose(1, 30), Gen.choose(4, 60)) {
      (n, k, m) =>
        val b = SolverOps.eigshBlockAuto(n, n, k, m)
        val room = math.max(1, m - k - 2)
        Prop(b >= 1 && b <= 2 && b <= room) :| s"b=$b room=$room (n=$n k=$k m=$m)"
    }

  property("eigsh block-width dispatch: pinned cells") = Prop.all(
    Prop(SolverOps.eigshBlockAuto(100000L, 100000L, 3, 25) == 2) :| "1e5 default",
    Prop(SolverOps.eigshBlockAuto(4000000L, 4000000L, 3, 25) == 2) :| "4e6 default",
    Prop(SolverOps.eigshBlockAuto(1000000L, 1000000L, 22, 25) == 1) :| "k-room clamp",
    Prop(SolverOps.eigshBlockAuto(1000000L, 1000000L, 3, 5) == 1) :| "m-room clamp")

  // The LAP tier is a function of kernel rows n·(T+1) alone: driver up
  // to 1e5, exec up to 1e7, keyed past it. T = 0 puts the boundary rows
  // on exact n; the T = 16 cells are the queries' own sizes.
  property("LAP tier dispatch: kernel-row boundaries 1e5 and 1e7") = {
    import SolverOps.{lapTier, LapTier}
    Prop.all(
      Prop(lapTier(100000L, 0) == LapTier.Driver) :| "1e5 rows",
      Prop(lapTier(100001L, 0) == LapTier.Exec) :| "1e5+1 rows",
      Prop(lapTier(10000000L, 0) == LapTier.Exec) :| "1e7 rows",
      Prop(lapTier(10000001L, 0) == LapTier.Keyed) :| "1e7+1 rows",
      Prop(lapTier(2000L, SolverOps.LapKernelT) == LapTier.Driver) :| "solver_lap_planted",
      Prop(lapTier(10000L, SolverOps.LapKernelT) == LapTier.Exec) :| "solver_lap_planted_big")
  }

  property("eigshSmallestAuto: small-nnz tier equals the driver-local path") = {
    // 30-node chain Laplacian — closed-form spectrum; auto must take the
    // local tier below 1e6 nnz and agree exactly with eigshSmallest
    val n = 30
    val rows = (0 until n).flatMap { i =>
      val deg = (if (i > 0) 1 else 0) + (if (i < n - 1) 1 else 0)
      Seq((i.toLong, i.toLong, deg.toDouble)) ++
        (if (i > 0) Seq((i.toLong, i.toLong - 1, -1.0), (i.toLong - 1, i.toLong, -1.0))
         else Seq.empty)
    }
    import spark.implicits._
    val coo = rows.toDF("row", "col", "value")
    val auto = SolverOps.eigshSmallestAuto(coo, n.toLong, 3)
    val local = SolverOps.eigshSmallest(coo, n, 3, 25)
    Prop(auto.zip(local).forall { case (a, l) => math.abs(a - l) < 1e-12 }) :|
      s"auto=$auto local=$local"
  }
}
