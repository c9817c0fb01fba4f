package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TopKAgg

/** Bounded-heap select_k aggregate: equivalence with the sort-based oracle
  * across partition layouts (reduce AND merge paths), tie-breaking, and
  * groups smaller than k. */
class TopKAggSpec extends AnyFunSuite {
  import TestSpark._

  private def oracle(df: org.apache.spark.sql.DataFrame, k: Int) =
    df.groupBy(col("g")).agg(
      slice(array_sort(collect_list(struct(col("c"), col("j")))), 1, k).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("g"), col("pos"), col("e.c").as("c"), col("e.j").as("j"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3))).toSet

  private def agg(df: org.apache.spark.sql.DataFrame, k: Int) =
    df.groupBy(col("g")).agg(TopKAgg.topKMin(col("c"), col("j"), k).as("top"))
      .select(col("g"), posexplode(TopKAgg.decodeTopK(col("top"))).as(Seq("pos", "e")))
      .select(col("g"), col("pos"), col("e.c").as("c"), col("e.j").as("j"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3))).toSet

  test("topKMin equals sort-based oracle on hash data, 1 and 16 partitions") {
    // deterministic values WITH planned ties (c mod 50 collides heavily) so
    // the (c, then j) tie-break is actually exercised
    def data(parts: Int) = spark.range(20000).repartition(parts)
      .select(pmod(col("id"), lit(37L)).as("g"), col("id").as("j"),
        pmod(xxhash64(col("id"), lit(1)), lit(50L)).cast("double").as("c"))
    for (parts <- Seq(1, 16)) {
      val d = data(parts).localCheckpoint(true)
      assert(agg(d, 8) === oracle(d, 8), s"parts=$parts k=8")
    }
  }

  test("groups smaller than k return the whole group, sorted") {
    val d = spark.range(10).select(lit(0L).as("g"), col("id").as("j"),
      (lit(9.0) - col("id").cast("double")).as("c"))
    val got = agg(d, 16).toSeq.sortBy(_._2)
    assert(got.size === 10)
    assert(got.map(_._3) === (0 until 10).map(_.toDouble))
    assert(got.map(_._4) === (9L to 0L by -1L)) // j follows its c through the sort
  }

  test("distributed LAP on the planted fixture stays exact through the agg kernel") {
    // n=300 planted dual certificate (301 coprime to 300... use 7: gcd(7,300)=1)
    val u = pmod(col("i") * 13, lit(500L))
    val v = pmod(col("j") * 7, lit(300L))
    val noise = pmod(graft.operators.TextOps.h32(
      concat_ws(":", col("i"), col("j"), lit("lapP"))), lit(1000000L)) + 1
    val c = when(col("j") === pmod(col("i") * 7, lit(300L)), u + v)
      .otherwise(u + v + noise)
    val row = graft.operators.SolverOps.lapAuctionDistributed(
      spark, 300, costExpr = Some(c)).head()
    val expect = (0L until 300L).map(i => (i * 13) % 500).sum +
      (0L until 300L).map(j => (j * 7) % 300).sum
    assert(row.getLong(0) === 300L)
    assert(row.getLong(1) === expect)
  }
}
