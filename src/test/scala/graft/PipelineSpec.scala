package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AnnOps, ClusterOps, DedupOps, LabelOps, RandomOps, TextOps}

/** Behavior tests for the pipeline ops whose guarantees go beyond what the
  * oracle hash-compare shows: RNG partition-invariance, LSH recall quality,
  * CC correctness on a known graph, R-MAT invariants.
  */
class PipelineSpec extends AnyFunSuite {
  import TestSpark._

  test("hash RNG is invariant under repartitioning") {
    val a = spark.range(1000)
      .select(col("id"), RandomOps.uniform(col("id"), 42, "u", 0.0, 1.0).as("u"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = spark.range(1000).repartition(13)
      .select(col("id"), RandomOps.uniform(col("id"), 42, "u", 0.0, 1.0).as("u"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a == b)
  }

  test("uniform RNG moments are sane") {
    val m = spark.range(20000)
      .select(RandomOps.uniform(col("id"), 1, "m", 0.0, 1.0).as("u"))
      .agg(avg(col("u")).as("m"), variance(col("u")).as("v")).collect().head
    assert(math.abs(m.getDouble(0) - 0.5) < 0.01)
    assert(math.abs(m.getDouble(1) - 1.0 / 12) < 0.01)
  }

  test("all-pairs cosine prefix filter prunes the index yet loses no pair") {
    val docs = graft.Tables.documents(spark, sf)
    val tau = 0.8
    val u = TextOps.tfidfUnit(docs).localCheckpoint(true)
    val fullEntries = u.count()
    val idxEntries = TextOps.prefixIndex(u, tau).count()
    assert(idxEntries < fullEntries,
      s"prefix index kept $idxEntries of $fullEntries entries — no pruning")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = pairs(TextOps.cosineJoin(docs, tau, path = TextOps.CosinePath.Brute))
    val pruned = pairs(TextOps.cosineJoin(docs, tau, path = TextOps.CosinePath.Prefix))
    assert(exact.nonEmpty, "fixture should contain cosine near-dups")
    assert(exact == pruned, "prefix filtering must be lossless (Bayardo WWW'07)")
  }

  test("minhash LSH finds the planted near-duplicates") {
    val docs = graft.Tables.documents(spark, sf)
    val pairs = DedupOps.minhashDupPairs(docs, 0.5).collect()
    assert(pairs.nonEmpty, "expected planted near-dups in documents")
    assert(pairs.forall(_.getDouble(2) >= 0.5))
  }

  test("LSH banding recalls every ground-truth pair with jaccard >= 0.8") {
    // 4 bands x 4 rows: P(candidate) = 1-(1-j^4)^4 = 0.986 at j=0.8, ~1 at 0.95+
    val docs = graft.Tables.documents(spark, sf)
    val truth = DedupOps.ngramJaccard(docs, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupOps.minhashDupPairs(docs, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    assert(truth.subsetOf(lsh),
      s"LSH missed ground-truth pairs: ${truth -- lsh}")
  }

  test("LSH ANN recall vs brute force is reasonable") {
    val recall = AnnOps.recallVsExact(graft.Tables.vectors(spark, sf), 5, 10)
      .collect().head.getDouble(0)
    assert(recall > 0.2, s"LSH recall suspiciously low: $recall") // 4-bit buckets
  }

  test("connected components labels a two-component graph correctly") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val comp = LabelOps.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("rmat edges are within bounds and deterministic") {
    val e1 = RandomOps.rmat(spark, 500, 8, 42).collect().map(_.toString).sorted
    val e2 = RandomOps.rmat(spark, 500, 8, 42).collect().map(_.toString).sorted
    assert(e1.sameElements(e2))
    val bounds = RandomOps.rmat(spark, 500, 8, 42)
      .agg(max(col("src")).as("ms"), max(col("dst")).as("md"),
        min(col("src")).as("ns"), min(col("dst")).as("nd")).collect().head
    assert(bounds.getLong(0) < 256 && bounds.getLong(1) < 256)
    assert(bounds.getLong(2) >= 0 && bounds.getLong(3) >= 0)
  }

  test("kmeans is deterministic and inertia decreases with iterations") {
    import graft.operators.ClusterOps
    val v = graft.Tables.vectors(spark, sf)
    val (a1, c1) = ClusterOps.kmeans(v, 8, 5)
    val (a2, c2) = ClusterOps.kmeans(v, 8, 5)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
    assert(a1.collect().map(_.toString).sorted
      .sameElements(a2.collect().map(_.toString).sorted))
    val (a0, c0) = ClusterOps.kmeans(v, 8, 1)
    assert(ClusterOps.inertia(a1, c1) <= ClusterOps.inertia(a0, c0) + 1e-9)
  }

  test("IVF ANN recall vs brute force is strong (nprobe=4/16)") {
    import graft.operators.{AnnOps, ClusterOps}
    val v = graft.Tables.vectors(spark, sf)
    val exact = AnnOps.bruteForceTopK(v, 5, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = ClusterOps.ivfTopK(v, 5, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall > 0.5, s"IVF recall too low: $recall")
  }

  test("IVF-PQ on separated blobs: neighbors come from the query's blob") {
    import graft.operators.{ClusterOps, RandomOps}
    // Within a blob every candidate shares its PQ code, so ADC ties
    // collapse to the query-to-own-codeword distance and break by id —
    // neighbor-set recall vs exact L2 is meaningless on this fixture. The
    // closed-form property PQ must deliver is coarser and absolute: the
    // in-blob ADC (≈ noise²) is dwarfed by any cross-blob ADC (≥ one
    // 10-apart lane), so all top-10 of every query land in its own blob,
    // with exactly 10 rows per query. (Exact ADC values are hash-checked
    // end-to-end by the pipe_ann_ivfpq oracle.)
    val blobs = RandomOps.makeBlobs(spark, 500, 8, 5, 42)
      .select(col("id"), col("vec"))
    val rows = ClusterOps.ivfPqTopK(blobs, 3, 10, d = 8, nlist = 5,
      nprobe = 2, m = 2, ksub = 5, iters = 5).collect()
    assert(rows.length == 30, s"expected 3x10 rows, got ${rows.length}")
    rows.foreach { r =>
      val (qid, nid) = (r.getLong(0), r.getLong(1))
      assert(nid % 5 == qid % 5,
        s"neighbor $nid of query $qid crossed blobs (ADC should forbid)")
    }
  }

  test("native ArrayDot is bit-identical to the fold-based dot") {
    import graft.functions.{ArrayDot, ArrayMath}
    val v = graft.Tables.vectors(spark, sf)
    val both = v.select(
      ArrayDot.dot(col("vec"), reverse(col("vec"))).as("native"),
      ArrayMath.dot(col("vec"), reverse(col("vec"))).as("fold"))
    assert(both.where(col("native") =!= col("fold")).count() == 0)
  }

  test("rmat degree distribution is skewed (power-law-ish)") {
    val deg = RandomOps.rmat(spark, 2000, 8, 7)
      .groupBy(col("src")).agg(count(lit(1)).as("d"))
      .agg(max(col("d")).as("mx"), avg(col("d")).as("av")).collect().head
    assert(deg.getLong(0) > 3 * deg.getDouble(1), "R-MAT should concentrate edges")
  }

  test("k-means|| init beats a degenerate naive init on separated blobs") {
    import graft.operators.ClusterOps
    // re-key so the 4 lowest ids all come from the SAME blob — the naive
    // first-k init then starts all centers inside one cluster
    val blobs = RandomOps.makeBlobs(spark, 400, 8, 4, 21L)
      .select(when(col("cluster") === 0, col("id"))
        .otherwise(col("id") + 10000L).as("id"), col("vec"))
    val k = 4
    val naive = ClusterOps.kmeans(blobs, k, 5)
    val inertNaive = ClusterOps.inertia(naive._1, naive._2)
    val init = ClusterOps.kmeansParallelInit(blobs, k)
    assert(init.length == k)
    val par = ClusterOps.kmeans(blobs, k, 5, Some(init))
    val inertPar = ClusterOps.inertia(par._1, par._2)
    assert(inertPar < inertNaive,
      s"k-means|| inertia $inertPar should beat degenerate-init $inertNaive")
    // deterministic: same init on a second run
    val init2 = ClusterOps.kmeansParallelInit(blobs, k)
    assert(init.map(_.toSeq).toSeq == init2.map(_.toSeq).toSeq)
  }

  test("mini-batch k-means converges to the blob means (scale path for large nlist)") {
    import org.apache.spark.sql.functions._
    val blobs = graft.operators.RandomOps.makeBlobs(spark, 2000, 8, 5, 42)
      .select(col("id"), col("vec"), col("cluster"))
    val mb = ClusterOps.kmeansMiniBatch(blobs.select(col("id"), col("vec")),
      5, iters = 8, fraction = 0.3)
    // generative blob means (exact, from the labeled fixture)
    val means = blobs.groupBy(col("cluster").cast("int").as("c"))
      .agg(graft.functions.VectorAgg.vectorSum(col("vec")).as("s"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) ->
        r.getSeq[Double](1).map(_ / r.getLong(2)).toArray).toMap
    // seeds are ids 0..4 (one per blob) → centroid c approximates mean of
    // blob c; mini-batch noise stays well inside the 10-sigma separation
    (0 until 5).foreach { c =>
      val err = math.sqrt(mb(c).zip(means(c))
        .map { case (a, b) => (a - b) * (a - b) }.sum)
      assert(err < 1.0, s"centroid $c off generative mean by $err")
    }
    // deterministic: hash-draw batches reproduce exactly
    val mb2 = ClusterOps.kmeansMiniBatch(blobs.select(col("id"), col("vec")),
      5, iters = 8, fraction = 0.3)
    assert(mb.map(_.toSeq).toSeq == mb2.map(_.toSeq).toSeq)
  }

  test("driver-side hyperplane lanes match the expression draw bit-for-bit") {
    val expr = TestSpark.spark.range(1)
      .select(AnnOps.hyperplane(3, 64, 1011).as("h"))
      .collect()(0).getSeq[Double](0)
    assert(expr == AnnOps.hyperplaneValues(3, 64, 1011).toSeq)
  }

  test("LSH near-dup pairs are a verified subset of the exact near-dups") {
    val vecs = graft.Tables.vectors(spark, sf)
    val exact = DedupOps.embeddingNearDups(vecs, 0.45).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupOps.embeddingNearDupsLsh(vecs, 0.45).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.nonEmpty, "bucketed path found no near-dups")
    // precision 1 by construction: every candidate is exact-cosine verified
    assert(lsh.subsetOf(exact), s"LSH emitted non-near-dup pairs: ${lsh -- exact}")
    // the planted near-identical pairs sit at cos ~1 → every table agrees
    // on their bucket; recall of the high-cos stratum is ~1
    val high = DedupOps.embeddingNearDups(vecs, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(high.subsetOf(lsh), s"LSH missed high-cos pairs: ${high -- lsh}")
  }

  test("overlapping audio windows catch hop-shifted copies that frames miss") {
    import spark.implicits._
    // NON-periodic base (a periodic one makes the decoded pixel stream
    // periodic too, and contiguous pixel frames then collide legitimately)
    val base = {
      val rnd = new scala.util.Random(7)
      Array.fill(1040)(('a' + rnd.nextInt(26)).toChar).mkString
    }
    // shift by exactly one hop (100 chars): frames (stride 200) see no
    // shared frame; overlapping windows realign from window 1 onward
    val shifted = ("z" * 100) + base
    val docs = Seq((0L, base), (1L, shifted)).toDF("doc_id", "text")
    val frames = graft.operators.MultimodalOps.frameDups(docs).collect()
    assert(frames.isEmpty, s"contiguous frames should miss the shift: ${frames.toList}")
    val audio = graft.operators.MultimodalOps.audioDups(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // base has floor((1040-200)/100)+1 = 9 windows, all present in the
    // shifted copy one hop later
    assert(audio.get((0L, 1L)).contains(9L), s"audio windows: $audio")
    // alignment must recover the planted shift: doc 0's window at offset o
    // reappears in doc 1 at o + 100, so the winning lag is −100 with all
    // 9 realigned windows voting for it
    val align = graft.operators.MultimodalOps.audioAlign(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(align.get((0L, 1L)).contains((-100L, 9L)), s"alignment: $align")
  }

  test("image augmentations are exact involutions at the digest level") {
    import spark.implicits._
    // hflip∘hflip = rot180∘rot180 = identity: augmenting a doc whose
    // pixel buffer IS an augmented buffer must return the original digest.
    // Run the permutation arithmetic twice via an independent in-test
    // replay of the pack construction and compare md5s.
    val text = {
      val rnd = new scala.util.Random(11)
      Array.fill(300)(('a' + rnd.nextInt(26)).toChar).mkString
    }
    val docs = Seq((7L, text)).toDF("doc_id", "text")
    val rows = graft.operators.MultimodalOps.imageAugment(docs).collect()
      .map(r => r.getString(1) -> (r.getLong(2), r.getLong(3), r.getString(4))).toMap
    // independent replay: buffer byte q = text byte (q mod len)
    val b = text.getBytes("US-ASCII")
    val (w, h) = (8 + b.length % 57, 8 + (b.length.toLong * 7 % 41).toInt)
    val buf = Array.tabulate(w * h * 3)(i => b(i % b.length))
    def md5hex(a: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5").digest(a)
        .map("%02x".format(_)).mkString
    def perm(w2: Int, h2: Int)(f: (Int, Int) => Int): Array[Byte] =
      Array.tabulate(w2 * h2 * 3) { d =>
        val (px, ch) = (d / 3, d % 3)
        buf(f(px % w2, px / w2) * 3 + ch)
      }
    val hf = perm(w, h)((x, y) => y * w + (w - 1 - x))
    val rt = perm(w, h)((x, y) => (h - 1 - y) * w + (w - 1 - x))
    val (w2, h2) = (w / 2, h / 2)
    val (x0, y0) = ((w - w2) / 2, (h - h2) / 2)
    val cr = perm(w2, h2)((x, y) => (y + y0) * w + (x + x0))
    assert(rows("hflip") == ((w.toLong, h.toLong, md5hex(hf))))
    assert(rows("rot180") == ((w.toLong, h.toLong, md5hex(rt))))
    assert(rows("crop") == ((w2.toLong, h2.toLong, md5hex(cr))))
    // involution sanity on the replay itself: flipping the flip is identity
    def permOf(src: Array[Byte], ww: Int, hh: Int)(f: (Int, Int) => Int) =
      Array.tabulate(ww * hh * 3) { d =>
        val (px, ch) = (d / 3, d % 3)
        src(f(px % ww, px / ww) * 3 + ch)
      }
    assert(md5hex(permOf(hf, w, h)((x, y) => y * w + (w - 1 - x))) == md5hex(buf))
    assert(md5hex(permOf(rt, w, h)((x, y) => (h - 1 - y) * w + (w - 1 - x))) == md5hex(buf))
  }

  test("repetition metrics are closed-form on constructed docs") {
    import spark.implicits._
    // "a b a b a b": 5 2-grams, 2 distinct, top ("a b") occurs 3x
    // "w x y z":     3 2-grams, all distinct, top occurs once
    val docs = Seq((0L, "a b a b a b", "x", "s", 11),
      (1L, "w x y z", "x", "s", 7)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = graft.operators.TextOps.repetition(docs).collect()
      .map(x => x.getLong(0) -> (x.getInt(1), x.getDouble(2), x.getDouble(3))).toMap
    assert(r(0L) == ((5, 0.6, 0.6)))
    assert(r(1L) == ((3, 0.0, math.rint(10000.0 / 3) / 10000)))
  }

  test("bloom probe has no false negatives; disjoint probe scores low") {
    import spark.implicits._
    // ref docs 0..9; probe 10 = exact copy of doc 0 (all shingles seen),
    // probe 11 = disjoint vocabulary (any hits are FP-rate-bounded)
    val mk = (i: Long, t: String) => (i, t, "x", "s", t.length)
    val ref = (0L until 10L).map(i =>
      mk(i, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"))
    val copy = mk(10L, "alpha0 beta0 gamma0 delta0 epsilon0 zeta0")
    val fresh = mk(11L, "qq ww ee rr tt yy uu ii oo pp")
    val docs = (ref :+ copy :+ fresh)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = DedupOps.bloomProbe(docs, refMax = 10).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(10L)._1 == out(10L)._2, "copied doc must hit every shingle")
    assert(out(10L)._3 == 1.0)
    // 30k-of-65536 bits set worst case → per-probe FP ~ (bits_set/m)^3 ≪ 1;
    // 8 disjoint shingles should essentially never all collide
    assert(out(11L)._3 <= 0.5, s"disjoint doc scored ${out(11L)._3}")
  }

  test("text/dedup ops return empty results (not errors) on an empty corpus") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String, String, String, Int)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    import graft.operators.TextOps
    assert(TextOps.repetition(empty).count() == 0)
    assert(TextOps.qualityGate(empty).count() == 0)
    assert(TextOps.mixtureSample(empty).count() == 0)
    assert(TextOps.seqPacking(empty).count() == 0)
    assert(TextOps.unigramLogprob(empty).count() == 0)
    assert(TextOps.bpePairStats(empty).count() == 0)
    assert(TextOps.bigramNll(empty).count() == 0)
    assert(TextOps.dsirSelect(empty).count() == 0)
    assert(TextOps.bpeTrainMerges(empty, 2).count() == 0)
    assert(TextOps.chunkOverlap(empty).count() == 0)
    assert(TextOps.curriculumBins(empty).count() == 0)
    assert(TextOps.stratifiedSplit(empty).count() == 0)
    assert(DedupOps.minhashDupPairs(empty, 0.5).count() == 0)
    assert(DedupOps.contamination(empty, 50).count() == 0)
    assert(DedupOps.bloomProbe(empty, 400).count() == 0)
    assert(DedupOps.dedupSurvivors(empty, 0.5).count() == 0)
  }

  test("PII redaction scrubs planted emails/IPs/phones and counts them") {
    import spark.implicits._
    import graft.operators.TextOps
    val docs = Seq(
      (0L, "write to a.b+c@mail-host.org or x9@y.io today", "x", "s", 1),
      (1L, "server 192.168.0.1 and 10.0.255.17 are up", "x", "s", 1),
      (2L, "dial +1 555 0100 or +44 20 7946 0958 now", "x", "s", 1),
      (3L, "no pii here at all", "x", "s", 1),
      (4L, "mixed: u@v.co from 8.8.8.8 call +7 999 1234 x", "x", "s", 1))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.piiRedact(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(0L)._1 == 2 && out(0L)._4 == "write to [EMAIL] or [EMAIL] today")
    assert(out(1L)._2 == 2 && out(1L)._4 == "server [IP] and [IP] are up")
    assert(out(2L)._3 == 2 && out(2L)._4 == "dial [PHONE] or [PHONE] now")
    assert(out(3L) == ((0L, 0L, 0L, "no pii here at all")))
    assert(out(4L) == ((1L, 1L, 1L, "mixed: [EMAIL] from [IP] call [PHONE] x")))
  }

  test("duplicated-n-gram fraction is closed-form on constructed docs") {
    import spark.implicits._
    // doc 0 and 1 share their first 5 tokens (3 shared shingles); doc 0
    // has 6 tokens -> 4 shingles, so dup_frac = 3/4; doc 2 is unique
    val docs = Seq(
      (0L, "a b c d e f", "x", "s", 1),
      (1L, "a b c d e zz yy", "x", "s", 1),
      (2L, "p q r s t u", "x", "s", 1))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = DedupOps.dupNgramFraction(docs, 2L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(0L) == ((4L, 3L, 0.75)))
    assert(out(1L) == ((5L, 3L, 0.6)))
    assert(out(2L) == ((4L, 0L, 0.0)))
  }

  test("contamination flags exactly the docs sharing eval shingles") {
    import spark.implicits._
    // eval = docs 0,1; doc 50 copies three tokens of doc 0 (1 shared
    // shingle), doc 51 is clean
    val docs = Seq(
      (0L, "one two three four five", "x", "s", 23),
      (1L, "six seven eight nine ten", "x", "s", 24),
      (50L, "one two three zz yy xx", "x", "s", 22),
      (51L, "aa bb cc dd ee ff", "x", "s", 17))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = DedupOps.contamination(docs, evalMax = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet == Set(50L))
    assert(out(50L) == ((1L, 1L)))
  }

  test("CMS heavy hitters: est >= exact always, exact on a tiny vocabulary") {
    import spark.implicits._
    // zipf-ish: 'alpha' x30, 'beta' x10, 'gamma' x3, singles
    val docs = (0 until 30).map(i => (i.toLong, "alpha"))
      .++((30 until 40).map(i => (i.toLong, "beta")))
      .++((40 until 43).map(i => (i.toLong, "gamma")))
      .++(Seq((43L, "delta eps zeta")))
      .toDF("doc_id", "text")
    val r = graft.operators.TextOps.heavyHittersCms(docs, depth = 4,
      width = 1024, k = 10).collect()
    r.foreach(x => assert(x.getLong(2) >= x.getLong(1),
      s"CMS must overestimate: ${x.mkString(",")}"))
    // 6 tokens in 4096 cells: collisions are possible but the planted
    // draws land collision-free -> estimates are exact
    val m = r.map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(m("alpha") == ((30L, 30L)) && m("beta") == ((10L, 10L)))
    assert(r.head.getString(0) == "alpha" && r.head.getInt(3) == 1)
  }

  test("semanticDedup: id-dominance within clusters only") {
    import spark.implicits._
    // cluster 0: a(0)—b(1) near, c(2) near b but NOT a (a chain): under
    // dominance b and c are both removed (b by a, c by b — removal does
    // not rescue downstream ids). cluster 1: d(3) identical to a but in
    // another cluster — kept (pairs never cross clusters).
    val deg = math.Pi / 180.0
    def v(angleDeg: Double) = Seq(math.cos(angleDeg * deg), math.sin(angleDeg * deg))
    val pts = Seq(
      (0L, v(0), 0), (1L, v(1.5), 0), (2L, v(3.0), 0), // cos(1.5°)≈0.99966 ≥ τ; cos(3°)≈0.99863 < τ
      (3L, v(0), 1))
      .toDF("id", "vec", "cluster")
    val got = DedupOps.semanticDedup(pts, 0.999)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got == Map(0L -> true, 1L -> false, 2L -> false, 3L -> true))
  }

  test("BPE training: greedy left-to-right merges with deterministic ties") {
    import spark.implicits._
    // vocab = {aaab: 2}. Round 1: pairs (a,a)x2 + (a,b)x1 per word, x2
    // words -> best (a,a,4); greedy [a,a,a,b] -> [aa,a,b] (the merged
    // symbol "aa" cannot re-merge with the next "a" this round).
    // Round 2: (aa,a)=2 ties (a,b)=2 -> lexicographic p1 picks (a,b).
    // Round 3: only (aa,ab)=2 remains.
    val docs = Seq((0L, "aaab aaab")).toDF("doc_id", "text")
    val m = graft.operators.TextOps.bpeTrainMerges(docs, 3).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(m.toSeq === Seq((1, "a", "a", 4L), (2, "a", "b", 2L), (3, "aa", "ab", 2L)))
  }

  test("sorted-neighborhood blocking: true pairs only, overlaps LSH, recall is key-bound") {
    val docs = graft.Tables.documents(spark, sf)
    val snm = DedupOps.sortedNeighborhoodPairs(docs, 3, 0.5).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(snm.nonEmpty, "expected near-dups adjacent under the token-prefix key")
    // every reported pair re-verifies against an independent exact Jaccard
    val sh = DedupOps.shingles(docs).localCheckpoint(true)
    import spark.implicits._
    val pairs = snm.map(_._1).toSeq.toDF("a", "b")
    val re = DedupOps.jaccardOf(pairs, sh).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    snm.foreach { case (p, jac) =>
      assert(re(p) == jac && jac >= 0.5, s"pair $p jac $jac vs ${re(p)}")
    }
    // the two blocking paradigms overlap but neither dominates here: the
    // word-soup dups perturb the token SET, so some LSH pairs have
    // diverged sort keys (SNM's documented recall bound — recall tracks
    // sort-key quality, unlike LSH whose bound is the band structure)
    def unordered(s: Set[(Long, Long)]) = s.map { case (a, b) => (a min b, a max b) }
    val lsh = DedupOps.minhashDupPairs(docs, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unordered(snm.map(_._1).toSet).intersect(unordered(lsh)).nonEmpty,
      "expected common pairs between SNM and LSH blocking")
  }

  test("global shuffle: disjoint shard key ranges, every doc counted once, no hot shard") {
    val docs = graft.Tables.documents(spark, sf)
    val n = docs.count()
    val layout = graft.operators.TextOps.globalShuffle(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(layout.map(_._2).sum == n, "shard counts must partition the corpus")
    // fixed-range shard arithmetic -> key ranges are disjoint and ordered
    layout.sliding(2).foreach {
      case Array((_, _, _, hiA), (_, _, loB, _)) => assert(hiA < loB)
      case _ =>
    }
    val mean = n.toDouble / layout.length
    assert(layout.map(_._2).max <= 3 * mean, "hash sharding should not produce a hot shard")
  }

  test("pHash: identical payloads collide at 0, a 1-char edit stays near, unrelated stays far") {
    import spark.implicits._
    val base = ('a' to 'z').mkString * 25 // 650 chars -> ~10 chars per lane window
    val edit = "Q" + base.substring(1)    // exactly one 64th-window perturbed
    val docs = Seq((0L, base, "s"), (1L, base, "s"), (2L, edit, "s"),
      (3L, base.reverse, "s")).toDF("doc_id", "text", "source")
    val pairs = graft.operators.MultimodalOps.phashNearDups(docs, 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.get((0L, 1L)).contains(0L), s"identical pair missing: $pairs")
    // the edit changes ONE lane's hash draw; only bits whose lane value
    // sits between the old and new median can flip alongside it
    assert(pairs.contains((0L, 2L)), s"1-char edit not caught: $pairs")
    assert(pairs((0L, 2L)) <= 16L)
    // reversed text draws an independent 64-bit hash: expected Hamming
    // ~32, far outside tau — and with all 4 bands differing it never
    // even becomes a candidate
    assert(!pairs.keys.exists(p => p._1 == 3L || p._2 == 3L), s"false positive: $pairs")
  }

  test("pHash band-width knob: pigeonhole recall floor holds at every width") {
    // For nBands bands, ANY pair within Hamming distance nBands-1 must
    // match at least one band exactly (pigeonhole) and therefore appear
    // in the candidate output. Verified against ground-truth hammings
    // computed from phash64 itself, at all three supported widths.
    import spark.implicits._
    val base = ('a' to 'z').mkString * 25
    val docs = (0L until 8L).map { i =>
      val t = i match {
        case 1 => base                        // identical to 0
        case 3 => "Q" + base.substring(1)     // near-dup of 0/1
        case j if j % 2 == 0 => base.reverse.drop(j.toInt) + base.take(j.toInt)
        case j => (base + j).reverse
      }
      (i, t, "s")
    }.toDF("doc_id", "text", "source")
    val feats = graft.operators.MultimodalOps
      .imageFeatures(graft.operators.MultimodalOps.packImage(docs), 8, 8)
      .toDF().select(col("doc_id"), col("feat"))
    for (nb <- Seq(2, 4, 8)) {
      val ph = graft.operators.MultimodalOps.phash64(feats, nb).collect()
        .map(r => r.getLong(0) -> (1 until nb + 1).map(r.getLong).toArray).toMap
      def ham(a: Long, b: Long): Int = (0 until nb)
        .map(k => java.lang.Long.bitCount(ph(a)(k) ^ ph(b)(k))).sum
      val truthFloor = (for {
        a <- 0L until 8L; b <- (a + 1) until 8L if ham(a, b) <= nb - 1
      } yield (a, b)).toSet
      assert(truthFloor.nonEmpty, s"fixture has no close pair at nBands=$nb")
      val got = graft.operators.MultimodalOps.phashNearDups(docs, 64, nb)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val missed = truthFloor.diff(got)
      assert(missed.isEmpty, s"nBands=$nb lost guaranteed-recall pairs: $missed")
      // and the confirm stage agrees with ground truth on a found pair
      val withH = graft.operators.MultimodalOps.phashNearDups(docs, 64, nb)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      truthFloor.foreach(p => assert(withH(p) == ham(p._1, p._2).toLong))
    }
  }

  test("BPE encode: piece histogram matches the hand-traced final vocab") {
    import spark.implicits._
    // same fixture as the training test: merges (a,a),(a,b),(aa,ab) fold
    // the whole word — vocab after round 2 is [aa, ab], round 3 merges it
    // to the single piece "aaab"; with 2 merge rounds the halves survive
    val docs = Seq((0L, "aaab aaab")).toDF("doc_id", "text")
    val got3 = graft.operators.TextOps.bpeEncode(docs, 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got3.toSeq === Seq(("aaab", 2L, 1L, 1)))
    val got2 = graft.operators.TextOps.bpeEncode(docs, 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).sortBy(_._4)
    assert(got2.toSeq === Seq(("aa", 2L, 1L, 1), ("ab", 2L, 1L, 2)))
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.operators.TextOps.bpeEncode(empty, 2).count() == 0)
  }

  test("chunkOverlap: full coverage, stride grid, overlap of window-stride") {
    import spark.implicits._
    import graft.operators.TextOps
    // doc of 150 distinct numbered tokens: w=64, s=48 → starts 0,48,96,144
    val text = (0 until 150).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, text, "en", "src0", text.length))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val chunks = TextOps.chunkOverlap(docs)
      .orderBy("chunk_id").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    // starts 0,48 give full 64-token windows; 96 and 144 clip at the
    // 150-token end (54 and 6 tokens)
    assert(chunks.toSeq == Seq((0L, 64L), (1L, 64L), (2L, 54L), (3L, 6L)))
    // coverage: stride < window ⇒ start_{i+1} = start_i + 48 < start_i + 64,
    // so every token index is inside some window; the last window reaches
    // index 149 (144+6). Short doc (< stride): exactly one chunk, whole doc.
    val one = TextOps.chunkOverlap(
      Seq((2L, "a b c", "en", "s", 5)).toDF("doc_id", "text", "lang", "source", "n_chars"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(one.toSeq == Seq((0L, 3L)))
  }

  test("stratifiedSplit is partition-invariant and within-source deterministic") {
    val docs = Tables.documents(spark, sf)
    import graft.operators.TextOps
    val a = TextOps.stratifiedSplit(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val b = TextOps.stratifiedSplit(docs.repartition(7)).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(a == b)
    // global test share near 20% (per-source shares are noisy at sf0.001's
    // ~25-doc strata — the hash guarantees determinism, not small-n balance)
    val test = a.collect { case ((_, "test"), (n, _)) => n }.sum.toDouble
    val total = a.values.map(_._1).sum.toDouble
    assert(total > 0 && test / total > 0.1 && test / total < 0.35,
      s"global test share ${test / total}")
  }

  test("curriculumBins: per-source quartiles balanced within 1 doc") {
    val docs = Tables.documents(spark, sf)
    import graft.operators.TextOps
    val bins = TextOps.curriculumBins(docs).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    bins.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq == Seq(1, 2, 3, 4))
      val ns = rows.map(_._3)
      assert(ns.max - ns.min <= 1, s"ntile imbalance: ${ns.toSeq}")
    }
  }

  test("kCenterSelect: covers every separated blob once; radius is non-increasing") {
    import graft.operators.ClusterOps
    val blobs = RandomOps.makeBlobs(spark, 500, 8, 5, 42)
      .select(col("id"), col("vec"))
    val picks = ClusterOps.kCenterSelect(blobs, 5).collect()
      .sortBy(_.getInt(0))
    // 5 well-separated generative blobs (id % 5): farthest-point must
    // visit each exactly once before any repeat
    assert(picks.map(_.getLong(1) % 5).toSet.size == 5,
      s"picks miss a blob: ${picks.toSeq}")
    val ds = picks.drop(1).map(_.getDouble(2))
    assert(ds.sliding(2).forall { case Array(a, b) => b <= a; case _ => true },
      s"coverage radius must not increase: ${ds.toSeq}")
    assert(picks.head.getDouble(2) == 0.0)
  }

  test("pplBuckets: equal-population tertiles with an ordered NLL envelope") {
    val docs = Tables.documents(spark, sf)
    val b = TextOps.pplBuckets(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getDouble(4)))
      .sortBy(_._1)
    assert(b.map(_._1).toSeq == Seq(0L, 1L, 2L), s"buckets: ${b.toSeq}")
    val scored = TextOps.bigramNll(docs).count()
    assert(b.map(_._2).sum == scored, "population partitions the scored docs")
    assert(b.map(_._2).max - b.map(_._2).min <= 1, s"balance: ${b.map(_._2).toSeq}")
    // ranking split: bucket envelopes are non-decreasing (ties may touch)
    assert(b.sliding(2).forall {
      case Array((_, _, _, hi0), (_, _, lo1, _)) => hi0 <= lo1; case _ => true
    }, s"envelope order: ${b.toSeq}")
  }
}
