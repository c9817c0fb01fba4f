package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextOps
import graft.operators.TextOps.CosinePath

/** [[TextOps.cosineJoin]]'s output against a plain SQL join of the same
  * unit vectors, on a corpus with a hot term (df above the prefix
  * enumerator's salting cutoff, in the prefix index too), and on
  * degenerate corpora, on both paths and in both join forms.
  */
class CosineJoinSpec extends AnyFunSuite {
  import TestSpark._

  private val paths = Seq(CosinePath.Auto, CosinePath.Brute, CosinePath.Prefix)

  private def corpus(s: SparkSession, texts: Seq[String]): DataFrame = {
    import s.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted

  /** 400 docs share `hot`, and the 300 that repeat it most weigh it
    * enough to index it at tau 0.5: more than the prefix enumerator's
    * salting cutoff of 256 (asserted below). 20 docs lack it. Pairs fall
    * on both sides of tau. */
  private val hotTexts = (0 until 420).map { i =>
    def rep(w: String, n: Int) = Seq.fill(n)(w).mkString(" ")
    val hot = if (i < 400) rep("hot", 2 + (i % 4) * 6) + " " else ""
    hot + rep(s"x${i % 7}", 2) + " " + rep(s"y${i % 11}", 2) +
      (if (i >= 400) " " + rep(s"z${i % 3}", 2) else "")
  }

  test("hot-term corpus: brute and prefix equal a plain SQL join, self and cross") {
    val s = spark.newSession()
    val docs = corpus(s, hotTexts)
    val tau = 0.5
    TextOps.tfidfUnit(docs).createOrReplaceTempView("unit")
    val indexedHot = TextOps.prefixIndex(s.table("unit"), tau).where(col("term") === "hot").count()
    assert(indexedHot > 256L, s"hot term indexed by $indexedHot docs")
    def oracle(where: String) = rows(s.sql(
      s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, round(sum(a.u * b.u), 4) AS sim
         |FROM unit a JOIN unit b ON a.term = b.term
         |WHERE $where
         |GROUP BY a.doc_id, b.doc_id
         |HAVING sum(a.u * b.u) >= $tau""".stripMargin))
    val self = oracle("a.doc_id < b.doc_id")
    val cross = oracle("a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0")
    assert(self.nonEmpty && self.size < 420 * 419 / 2 && cross.nonEmpty)
    for (path <- Seq(CosinePath.Brute, CosinePath.Prefix)) {
      assert(rows(TextOps.cosineJoin(docs, tau, path = path)) == self, s"self $path")
      assert(rows(TextOps.cosineJoin(docs, tau, Some(col("doc_id") % 10 === 0), path)) == cross,
        s"cross $path")
    }
    // a broadcast bound of 0 rows stands in for a unit table above 1e6
    // rows: the brute self join then runs the shuffled, salted enumerator
    for (path <- Seq(CosinePath.Auto, CosinePath.Brute))
      assert(rows(TextOps.cosineJoinBounded(docs, tau, None, path, 0L)) == self,
        s"self $path past the broadcast bound")
  }

  test("empty corpus, all-tf=1 corpus and one-doc corpus give empty output") {
    val s = spark.newSession()
    val corpora = Seq(
      "empty" -> corpus(s, Nil),
      "tf=1" -> corpus(s, Seq("alpha beta gamma", "beta gamma delta", "alpha delta")),
      "one doc" -> corpus(s, Seq("alpha alpha beta beta")))
    for ((name, docs) <- corpora; path <- paths;
         evalPred <- Seq(None, Some(col("doc_id") === 0L))) {
      val out = TextOps.cosineJoin(docs, 0.5, evalPred, path).collect()
      assert(out.isEmpty, s"$name $path eval=$evalPred: ${out.toList}")
    }
    assert(TextOps.tfidfUnit(corpora(1)._2).isEmpty, "tf=1 corpus has unit rows")
  }
}
