package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SparseOps

/** The sparse × dense core of SparseOps against driver-side sequential
  * folds. A·X folds each output row's edges in (row, col, value) order, so
  * it must equal the fold bit for bit; Aᵀ·X merges per-task partials and is
  * held to 1e-12 relative. Every case runs in its own session, under the
  * default codegen confs and under the interpreted confs of the loop knobs.
  */
class SpmmSpec extends AnyFunSuite {
  import TestSpark._

  private val Width = 4
  private val knobs = Seq(
    "codegen" -> Seq.empty[(String, String)],
    "no-codegen" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def eachKnob(body: (String, SparkSession) => Unit): Unit =
    knobs.foreach { case (name, confs) =>
      val s = spark.newSession()
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      body(name, s)
    }

  type Edge = (Long, Long, Double)

  /** Values over seven decades, so a sum depends on its order; rows and
    * columns drawn from small ranges, so (row, col) repeats. */
  private def edges(n: Int, rows: Int, cols: Int, seed: Long): Seq[Edge] = {
    val r = new scala.util.Random(seed)
    Seq.fill(n)((r.nextInt(rows).toLong, r.nextInt(cols).toLong,
      r.nextGaussian() * math.pow(10, r.nextInt(7) - 3)))
  }

  private def dense(ids: Seq[Long], seed: Long): Map[Long, Array[Double]] = {
    val r = new scala.util.Random(seed)
    ids.map(i => i -> Array.fill(Width)(r.nextGaussian() * math.pow(10, r.nextInt(5) - 2))).toMap
  }

  private def cooDf(s: SparkSession, es: Seq[Edge]): DataFrame =
    s.createDataFrame(es).toDF("row", "col", "value")

  private def xDf(s: SparkSession, x: Map[Long, Array[Double]]): DataFrame =
    s.createDataFrame(x.toSeq.map { case (i, v) => (i, v.toSeq) }).toDF("id", "v")

  /** Σ over the matched edges of each output key, in the given edge order;
    * the first term sets the buffer, as the aggregate does. */
  private def fold(es: Seq[Edge], x: Map[Long, Array[Double]], contract: Edge => Long,
      out: Edge => Long): Map[Long, Seq[Double]] =
    es.filter(e => x.contains(contract(e))).groupBy(out).map { case (k, g) =>
      k -> g.map(e => x(contract(e)).map(_ * e._3)).reduceLeft { (buf, t) =>
        buf.indices.foreach(i => buf(i) += t(i)); buf }.toSeq }

  private def sorted(es: Seq[Edge]): Seq[Edge] = es.sortBy(identity)

  private def collectV(df: DataFrame): Map[Long, Seq[Double]] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap

  private def bits(m: Map[Long, Seq[Double]]) =
    m.map { case (k, v) => k -> v.map(java.lang.Double.doubleToRawLongBits) }

  private def assertClose(got: Map[Long, Seq[Double]], want: Map[Long, Seq[Double]], ctx: String): Unit = {
    assert(got.keySet == want.keySet, ctx)
    want.foreach { case (k, w) =>
      val g = got(k)
      assert(g.length == w.length, s"$ctx key=$k")
      val scale = w.map(math.abs).max
      g.zip(w).foreach { case (a, b) =>
        assert(math.abs(a - b) <= 1e-12 * scale, s"$ctx key=$k: $a vs $b") }
    }
  }

  /** `body` in the core's scope (the unsized LoopPolicy scope of
    * `SparseOps.spmm`) at a session width of `parts`. */
  private def inCore[T](s: SparkSession, parts: Int)(body: => T): T =
    withConfs(s, "spark.sql.shuffle.partitions" -> parts.toString) {
      LoopPolicy.scope(s, None, stepped = false) { w => assert(w == parts); body }
    }

  /** (A·X, Aᵀ·X) through the core on `parts` partitions. */
  private def both(s: SparkSession, es: Seq[Edge], xCols: Map[Long, Array[Double]],
      xRows: Map[Long, Array[Double]], parts: Int) =
    inCore(s, parts) {
      val a = SparseOps.rowSorted(cooDf(s, es), parts)
      (collectV(SparseOps.spmmA(a, xDf(s, xCols), xCols.size, Width)),
        collectV(SparseOps.spmmAt(a, xDf(s, xRows))))
    }

  test("A·X equals a sequential fold in sorted-edge order bit for bit; Aᵀ·X to 1e-12") {
    val es = edges(3000, 60, 40, 5)
    val xc = dense(0L until 40L, 6)
    val xr = dense(0L until 60L, 7)
    eachKnob { (k, s) =>
      Seq(1, 3).foreach { parts =>
        val (ax, atx) = both(s, es, xc, xr, parts)
        assert(bits(ax) == bits(fold(sorted(es), xc, _._2, _._1)), s"$k parts=$parts")
        assertClose(atx, fold(sorted(es), xr, _._1, _._2), s"$k parts=$parts Aᵀ·X")
      }
    }
  }

  test("inner-join semantics: a missing contraction index adds nothing, an unmatched key gives no row") {
    val es = edges(500, 20, 12, 9) ++ Seq((100L, 50L, 2.0), (101L, 51L, 3.0))
    // X covers columns 0..9 only: 10, 11, 50 and 51 contribute nothing, and
    // rows whose every edge is in them (100, 101) are absent
    val xc = dense(0L until 10L, 10)
    // Xᵀ side covers rows 0..14 only
    val xr = dense(0L until 15L, 11)
    eachKnob { (k, s) =>
      val (ax, atx) = both(s, es, xc, xr, 1)
      assert(!ax.contains(100L) && !ax.contains(101L), k)
      assert(bits(ax) == bits(fold(sorted(es), xc, _._2, _._1)), k)
      assert(!atx.contains(50L) && !atx.contains(51L), k)
      assertClose(atx, fold(sorted(es), xr, _._1, _._2), s"$k Aᵀ·X")
    }
  }

  test("duplicate (row, col) entries are each folded in; an empty COO gives no rows") {
    val es = Seq((0L, 1L, 0.5), (0L, 1L, 0.25), (0L, 1L, 0.5), (2L, 0L, -1.0), (2L, 0L, 1e-3))
    val xc = dense(Seq(0L, 1L), 12)
    val xr = dense(Seq(0L, 2L), 13)
    eachKnob { (k, s) =>
      val (ax, atx) = both(s, es, xc, xr, 2)
      assert(bits(ax) == bits(fold(sorted(es), xc, _._2, _._1)), k)
      assert(ax(0L).zip(xc(1L)).forall { case (a, x) => a == x * 0.25 + x * 0.5 + x * 0.5 }, k)
      assertClose(atx, fold(sorted(es), xr, _._1, _._2), s"$k Aᵀ·X")
      val (ax0, atx0) = both(s, Seq.empty, xc, xr, 2)
      assert(ax0.isEmpty && atx0.isEmpty, k)
    }
  }

  test("SparseOps.spmm explodes the A·X fold to (row, pos, v)") {
    val es = edges(800, 30, 20, 14)
    val xc = dense(0L until 20L, 15)
    val want = fold(sorted(es), xc, _._2, _._1)
    eachKnob { (k, s) =>
      val b = s.createDataFrame(xc.toSeq.map { case (i, v) => (i, v.toSeq) }).toDF("id", "vec")
      val got = SparseOps.spmm(cooDf(s, es), b).collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
      assert(got.size == want.size * Width, k)
      want.foreach { case (row, v) => v.zipWithIndex.foreach { case (x, p) =>
        assert(java.lang.Double.doubleToRawLongBits(got((row, p))) ==
          java.lang.Double.doubleToRawLongBits(x), s"$k row=$row pos=$p") } }
    }
  }

  test("just below and just above the broadcast bound the two legs give equal rows") {
    // integer-valued data: every sum is exact, so the legs' different fold
    // orders must give identical rows
    val r = new scala.util.Random(16)
    val es = Seq.fill(2000)((r.nextInt(50).toLong, r.nextInt(30).toLong, (r.nextInt(9) - 4).toDouble))
    val xc = (0L until 30L).map(i => i -> Array.fill(Width)((r.nextInt(7) - 3).toDouble)).toMap
    val atBound = SparseOps.SpmmBroadcastBytes / (8L * Width)
    eachKnob { (k, s) =>
      val legs = Seq(atBound, atBound + 1).map { claimed =>
        Instrument.withExclusive {
          val before = Instrument.snapshot()
          inCore(s, 3) {
            val a = SparseOps.rowSorted(cooDf(s, es), 3)
            val out = SparseOps.spmmA(a, xDf(s, xc), claimed, Width)
            val plan = out.queryExecution.executedPlan.toString
            (Instrument.since(before).filter(_._1.startsWith("spmm.")),
              plan.contains("BroadcastExchange"), collectV(out))
          }
        }
      }
      val Seq((cBelow, bBelow, below), (cAbove, bAbove, above)) = legs
      assert(cBelow == Map("spmm.broadcast" -> 1L) && bBelow, s"$k below: $cBelow")
      assert(cAbove == Map("spmm.shuffled" -> 1L) && !bAbove, s"$k above: $cAbove")
      assert(below.nonEmpty && bits(below) == bits(above), k)
      assert(bits(below) == bits(fold(sorted(es), xc, _._2, _._1)), k)
    }
  }
}
