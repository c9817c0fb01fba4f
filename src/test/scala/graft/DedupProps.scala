package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import org.scalacheck.Test.Parameters
import graft.operators.DedupOps

/** Property tests for the MinHash-LSH dedup pipeline on random corpora:
  * an exact copy shares every shingle, hence every minhash and every
  * band — LSH MUST surface it as a candidate with Jaccard exactly 1
  * (no probabilistic caveat; this is the deterministic floor under the
  * probabilistic recall). And every emitted pair's Jaccard sits in
  * (0, 1] with a < b ordering. Random word-list corpora, planted copy. */
object DedupProps extends Properties("MinhashLsh") {

  override def overrideParameters(p: Parameters): Parameters =
    p.withMinSuccessfulTests(6)

  private lazy val spark = TestSpark.spark

  private val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps",
    "zeta", "eta", "theta", "iota", "kappa", "lam", "mu", "nu", "xi")
  private val docGen = Gen.choose(5, 20)
    .flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
  private val corpusGen = Gen.choose(3, 8).flatMap(n => Gen.listOfN(n, docGen))

  // a corpus with the eval side of a cross join: a non-empty proper
  // subset of its doc ids, so both sides of the split hold documents
  private val corpusEvalGen = for {
    texts <- corpusGen
    k <- Gen.choose(1, texts.size - 1)
    ids <- Gen.pick(k, texts.indices.map(_.toLong))
  } yield (texts, ids.toSet)

  property("prefix-filtered all-pairs cosine equals the exact join at any tau") =
    forAll(corpusEvalGen, Gen.oneOf(0.3, 0.5, 0.7, 0.9)) { case ((texts, evalIds), tau) =>
      import spark.implicits._
      import graft.operators.TextOps
      import graft.operators.TextOps.CosinePath
      val docs = texts.zipWithIndex.map { case (t, i) =>
        // repeat the word list so tf > 1 terms exist (tf=1 ln-weights
        // are 0 and whole docs would vanish from the unit-vector table)
        (i.toLong, t + " " + t, "x", "s", t.length)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
      def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // every case checks the self join and the cross join
      Prop.all(Seq(None, Some(evalIds)).map { ev =>
        val evalPred = ev.map(ids =>
          org.apache.spark.sql.functions.col("doc_id").isin(ids.toSeq: _*))
        val exact = pairSet(TextOps.cosineJoin(docs, tau, evalPred, CosinePath.Brute))
        val pruned = pairSet(TextOps.cosineJoin(docs, tau, evalPred, CosinePath.Prefix))
        Prop(exact == pruned) :|
          s"tau=$tau eval=$ev exact=${exact.size} pruned=${pruned.size} " +
            s"diff=${(exact -- pruned) ++ (pruned -- exact)}"
      }: _*)
    }

  property("an exact copy is always found with jaccard exactly 1") =
    forAll(corpusGen, Gen.choose(0, 100)) { (texts, pick) =>
      import spark.implicits._
      val base = texts.zipWithIndex.map { case (t, i) =>
        (i.toLong, t, "x", "s", t.length)
      }
      val copyOf = base(pick % base.length)
      val docs = (base :+ (900L, copyOf._2, "x", "s", copyOf._5))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val pairs = DedupOps.minhashDupPairs(docs, 0.5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val hit = pairs.find(p => p._2 == 900L && p._1 == copyOf._1)
      val ordered = pairs.forall(p => p._1 < p._2)
      val bounded = pairs.forall(p => p._3 > 0.0 && p._3 <= 1.0)
      Prop(hit.exists(_._3 == 1.0) && ordered && bounded) :|
        s"pairs=${pairs.toList} wanted (${copyOf._1}, 900, 1.0)"
    }
}
