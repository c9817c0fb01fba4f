package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextOps
import graft.operators.TextOps.CosinePath

/** The brute/prefix dispatch of [[TextOps.cosineJoin]] at its boundaries:
  * both stages of [[TextOps.choosePath]] one unit either side of their
  * cutoffs, and the one-path-per-call counter contract on a small corpus,
  * for a self join and a cross join.
  */
class CosineDispatchSpec extends AnyFunSuite {
  import TestSpark._

  test("stage 1: brute up to 1e6 unit-vector rows, the cost model above") {
    // estimates that pick prefix whenever stage 2 consults them
    assert(TextOps.choosePath(1000000L, 1000L, 1L) == CosinePath.Brute)
    assert(TextOps.choosePath(1000001L, 1000L, 1L) == CosinePath.Prefix)
    // stage 1 decides without forcing the (job-costing) estimates
    assert(TextOps.choosePath(1000000L, sys.error("bruteEst forced"),
      sys.error("candEst forced")) == CosinePath.Brute)
  }

  test("stage 2: prefix only when candEst·16 < bruteEst") {
    assert(TextOps.choosePath(1000001L, bruteEst = 1600L, candEst = 100L) == CosinePath.Brute)
    assert(TextOps.choosePath(1000001L, bruteEst = 1601L, candEst = 100L) == CosinePath.Prefix)
  }

  test("a brute self join past the broadcast bound stays brute, counted once") {
    import spark.implicits._
    val docs = Seq("alpha alpha beta beta", "alpha alpha beta beta gamma gamma")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    // a bound of 0 rows stands in for a unit table above 1e6 rows, where
    // stage 2 keeps brute when prefix cannot prune (see above)
    for (path <- Seq(CosinePath.Auto, CosinePath.Brute)) Instrument.withExclusive {
      Instrument.reset()
      val rows = TextOps.cosineJoinBounded(docs, 0.5, None, path, 0L).collect()
      val snap = Instrument.snapshot()
      assert(snap.get("xcos.brute").contains(1L) && !snap.contains("xcos.prefix"), s"$path: $snap")
      // the bound is read from one count of u, pinned or not
      assert(snap.get("xcos.u_rows").contains(5L), s"$path: $snap")
      assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 1L)), s"$path: ${rows.toList}")
    }
    // a pinned cross join broadcasts its eval side only and counts nothing
    Instrument.withExclusive {
      Instrument.reset()
      TextOps.cosineJoinBounded(docs, 0.5, Some(col("doc_id") === 0L), CosinePath.Brute, 0L).collect()
      assert(!Instrument.snapshot().contains("xcos.u_rows"), s"${Instrument.snapshot()}")
    }
  }

  test("an Auto self join and an Auto cross join each record exactly one path") {
    import spark.implicits._
    val docs = Seq("alpha beta gamma", "alpha beta delta", "gamma delta eps",
        "alpha beta gamma", "eps zeta eta")
      .zipWithIndex.map { case (t, i) => (i.toLong, t + " " + t) }
      .toDF("doc_id", "text")
    for (evalPred <- Seq(None, Some(col("doc_id") < 2))) Instrument.withExclusive {
      Instrument.reset()
      val rows = TextOps.cosineJoin(docs, 0.5, evalPred).collect()
      val snap = Instrument.snapshot()
      val brute = snap.getOrElse("xcos.brute", 0L)
      val prefix = snap.getOrElse("xcos.prefix", 0L)
      assert(brute + prefix == 1L, s"eval=$evalPred: $snap")
      // far below the stage-1 cutoff, so the one path is brute
      assert(brute == 1L && snap.get("xcos.u_rows").exists(_ > 0L), s"eval=$evalPred: $snap")
      // doc 3 copies doc 0: found in both forms (doc 0 is eval, doc 3 train)
      assert(rows.exists(r => r.getLong(0) == 0L && r.getLong(1) == 3L && r.getDouble(2) == 1.0),
        s"eval=$evalPred: ${rows.toList}")
    }
  }
}
