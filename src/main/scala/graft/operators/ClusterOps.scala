package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{ArrayDot, ArrayMath, VectorAgg}

/** Lloyd's k-means over the vector table + IVF-style ANN on top of it —
  * the centroid-bucketed index the reference ecosystem uses for ANN (its
  * IVF implementations moved to cuVS; the primitives remain: pairwise
  * distance + argmin + reduce_rows_by_key, SURVEY §2.4/§2.5).
  *
  * Distributed shape: centroids are k×d driver-side literals broadcast into
  * a codegen'd argmin expression (k·d multiply-adds per row, no shuffle);
  * the update step is one reduce_rows_by_key shuffle carrying k×d partials.
  * Deterministic: init = first k rows by id, fixed iteration count.
  */
object ClusterOps {

  private def centroidLit(c: Array[Double]): Column =
    array(c.toIndexedSeq.map(lit(_)): _*)

  /** (−2·v·c + ‖c‖², clusterId) structs; array_min picks the nearest
    * centroid with lowest-id tie-break (‖v‖² is constant per row). */
  private def nearestOf(v: Column, centroids: Array[Array[Double]]): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val cNorm = c.map(x => x * x).sum
      struct((ArrayDot.dot(v, centroidLit(c)) * -2.0 + cNorm).as("s"),
        lit(i).as("c"))
    }
    array_min(array(scored.toIndexedSeq: _*)).getField("c")
  }

  private def nearestExpr(centroids: Array[Array[Double]]): Column =
    nearestOf(col("vec"), centroids)

  /** Probe list: the `nprobe` nearest centroid ids, ascending by distance. */
  private def probesExpr(centroids: Array[Array[Double]], nprobe: Int): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val cNorm = c.map(x => x * x).sum
      struct((ArrayDot.dot(col("vec"), centroidLit(c)) * -2.0 + cNorm).as("s"),
        lit(i).as("c"))
    }
    slice(transform(array_sort(array(scored.toIndexedSeq: _*)), s => s.getField("c")), 1, nprobe)
  }

  /** Squared distance to the nearest of the given centers (expression). */
  private def minDist2(centers: Array[Array[Double]]): Column = {
    val best = array_min(array(centers.toIndexedSeq.map { c =>
      val cNorm = c.map(x => x * x).sum
      ArrayDot.dot(col("vec"), centroidLit(c)) * -2.0 + cNorm
    }: _*))
    greatest(ArrayMath.foldSum(col("vec"), x => x * x) + best, lit(0.0))
  }

  /** k-means|| initialization (Bahmani et al., VLDB'12) — the distributed
    * seeding the reference ecosystem pairs with Lloyd's: a few rounds, each
    * sampling points with probability ∝ oversample·k·d²(x,C)/Σd² (ONE
    * aggregate + ONE filtered scan per round, deterministic hash draws),
    * then the O(rounds·oversample·k) candidates are weighted by how many
    * points they attract and reduced to k centers driver-side (weighted
    * farthest-first). No per-iteration shuffle grows with n.
    */
  def kmeansParallelInit(vectors: DataFrame, k: Int, rounds: Int = 3,
      oversample: Int = 4, seed: Long = 13): Array[Array[Double]] =
    graft.LoopPolicy.scope(vectors.sparkSession, Some(vectors.count()), stepped = true) { _ =>
    var centers = vectors.orderBy(col("id")).limit(1)
      .select(col("vec")).collect().map(_.getSeq[Double](0).toArray)
    for (r <- 0 until rounds) {
      val d2 = minDist2(centers)
      val tot = vectors.select(d2.as("d2")).agg(sum(col("d2"))).head().getDouble(0)
      if (tot > 0) {
        val drawn = vectors
          .where(RandomOps.hashU(col("id"), seed, s"kmpp$r") <
            least(lit(1.0), lit(oversample.toDouble * k) * d2 / tot))
          .select(col("vec")).collect().map(_.getSeq[Double](0).toArray)
        centers = centers ++ drawn
      }
    }
    // weight candidates by attraction, then weighted farthest-first to k
    val weights = vectors.select(nearestExpr(centers).as("c"))
      .groupBy(col("c")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1).toDouble).toMap
    val w = centers.indices.map(i => weights.getOrElse(i, 0.0)).toArray
    val picked = scala.collection.mutable.ArrayBuffer(w.zipWithIndex.maxBy(_._1)._2)
    while (picked.length < math.min(k, centers.length)) {
      def d2To(i: Int) = picked.map { p =>
        centers(i).zip(centers(p)).map { case (a, b) => (a - b) * (a - b) }.sum
      }.min
      picked += centers.indices.filterNot(picked.contains)
        .maxBy(i => w(i) * d2To(i))
    }
    picked.map(centers(_)).toArray
    }

  /** Lloyd's k-means; returns (assignments (id, vec, cluster), centroids).
    * Empty clusters keep their previous centroid. Default init = first k
    * rows by id (deterministic); pass `init` (e.g. from
    * [[kmeansParallelInit]]) for quality-seeded clustering. */
  def kmeans(vectors: DataFrame, k: Int, iters: Int,
      init: Option[Array[Array[Double]]] = None): (DataFrame, Array[Array[Double]]) =
    // one LoopPolicy scope per training call: one count against iters×
    // full scans; the returned assignment projection is narrow (no
    // shuffle), so lazy execution outside the scope is fine
    graft.LoopPolicy.scope(vectors.sparkSession, Some(vectors.count()), stepped = true) { _ =>
    var centroids = init.getOrElse(vectors.where(col("id") < k).orderBy(col("id"))
      .select(col("vec")).collect().map(_.getSeq[Double](0).toArray))
    for (_ <- 0 until iters) {
      val sums = vectors
        .select(nearestExpr(centroids).as("cluster"), col("vec"))
        .groupBy(col("cluster"))
        .agg(VectorAgg.vectorSum(col("vec")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = centroids.map(_.clone())
      sums.foreach { r =>
        val c = r.getInt(0)
        val s = r.getSeq[Double](1)
        val n = r.getLong(2).toDouble
        next(c) = s.map(_ / n).toArray
      }
      centroids = next
    }
    (vectors.select(col("id"), col("vec"), nearestExpr(centroids).as("cluster")), centroids)
    }

  /** Mini-batch k-means (Sculley, WWW'10) — the large-nlist scale path for
    * IVF training: each iteration samples a deterministic hash-fraction of
    * the rows (no full scan per iter), aggregates per-cluster batch sums,
    * and moves centroids with the per-cluster running learning rate
    * η = b_c/(n_c + b_c). One bounded shuffle per iteration over the batch
    * only; centroids stay k×d driver state, draws are partition-invariant.
    */
  def kmeansMiniBatch(vectors: DataFrame, k: Int, iters: Int,
      fraction: Double, seed: Long = 29,
      init: Option[Array[Array[Double]]] = None): Array[Array[Double]] =
    graft.LoopPolicy.scope(vectors.sparkSession, Some(vectors.count()), stepped = true) { _ =>
    var centroids = init.getOrElse(vectors.where(col("id") < k).orderBy(col("id"))
      .select(col("vec")).collect().map(_.getSeq[Double](0).toArray))
    val counts = new Array[Double](k)
    for (it <- 0 until iters) {
      val batch = vectors.where(
        RandomOps.hashU(col("id"), seed, s"mb$it") < fraction)
      val sums = batch
        .select(nearestExpr(centroids).as("cluster"), col("vec"))
        .groupBy(col("cluster"))
        .agg(VectorAgg.vectorSum(col("vec")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = centroids.map(_.clone())
      sums.foreach { r =>
        val c = r.getInt(0)
        val s = r.getSeq[Double](1)
        val b = r.getLong(2).toDouble
        val eta = b / (counts(c) + b)
        var j = 0
        while (j < next(c).length) {
          next(c)(j) = (1.0 - eta) * next(c)(j) + eta * (s(j) / b); j += 1
        }
        counts(c) += b
      }
      centroids = next
    }
    centroids
    }

  /** Within-cluster sum of squares (inertia) for given assignments. */
  def inertia(assigned: DataFrame, centroids: Array[Array[Double]]): Double = {
    val withDist = assigned.select(
      (ArrayMath.foldSum(col("vec"), x => x * x)
        + element_at(array(centroids.toIndexedSeq.map(c => lit(c.map(x => x * x).sum)): _*),
          col("cluster") + 1)
        - ArrayDot.dot(col("vec"),
          element_at(array(centroids.toIndexedSeq.map(centroidLit): _*), col("cluster") + 1)) * 2.0)
        .as("d2"))
    withDist.agg(sum(col("d2"))).head().getDouble(0)
  }

  /** One fused Lloyd loop updating SEVERAL codebooks at once. Each spec is
    * (laneStart, laneCount, initial centroids) over a slice of `vec`; every
    * iteration explodes each row into one (spec, subvector) entry, assigns
    * it to its spec's nearest centroid (codegen argmin over broadcast
    * literals), and aggregates every per-(spec, cluster) sum in ONE
    * shuffle — training m codebooks costs the driver-round-trip count of
    * one. The per-spec iteration is mathematically identical to running
    * [[kmeans]] on that slice alone (same init, same mean updates, empty
    * clusters keep their centroid). */
  private def fusedLloyd(vectors: DataFrame,
      specs: Array[(Int, Int, Array[Array[Double]])],
      iters: Int): Array[Array[Array[Double]]] =
    graft.LoopPolicy.scope(vectors.sparkSession, Some(vectors.count()), stepped = true) { _ =>
    val books = specs.map(_._3.map(_.clone()))
    for (_ <- 0 until iters) {
      val entries = explode(array(specs.indices.map { t =>
        struct(lit(t).as("t"),
          slice(col("vec"), specs(t)._1 + 1, specs(t)._2).as("sv"))
      }: _*)).as("e")
      val tagged = vectors.select(entries)
        .select(col("e").getField("t").as("t"), col("e").getField("sv").as("sv"))
      val cl = specs.indices.drop(1).foldLeft(
        when(col("t") === 0, nearestOf(col("sv"), books(0)))) { (acc, t) =>
        acc.when(col("t") === t, nearestOf(col("sv"), books(t)))
      }
      val sums = tagged.select(col("t"), cl.as("cluster"), col("sv"))
        .groupBy(col("t"), col("cluster"))
        .agg(VectorAgg.vectorSum(col("sv")).as("s"), count(lit(1)).as("n"))
        .collect()
      sums.foreach { r =>
        val t = r.getInt(0); val c = r.getInt(1)
        val s = r.getSeq[Double](2); val n = r.getLong(3).toDouble
        books(t)(c) = s.map(_ / n).toArray
      }
    }
    books
    }

  /** First-k-rows init for a lane slice (the [[kmeans]] default init,
    * sliced driver-side from ONE collect shared by every spec). */
  private def initSlices(vectors: DataFrame, k: Int): Array[Array[Double]] =
    vectors.where(col("id") < k).orderBy(col("id"))
      .select(col("vec")).collect().map(_.getSeq[Double](0).toArray)

  /** Product-quantization codebooks (Jegou et al., PAMI'11 — the PQ the
    * reference ecosystem pairs with IVF for compressed ANN): the d lanes
    * split into m subspaces of d/m lanes, one k-means codebook per
    * subspace. Codebooks are m·ksub·(d/m) driver doubles — broadcast as
    * literals, like the IVF centroids. A PQ code is m bytes per vector vs
    * 8d for raw doubles: the memory path that makes a 100 TB embedding
    * corpus fit an executor fleet. All m codebooks train in one fused
    * Lloyd loop — one shuffle per iteration, not per subspace. */
  def pqTrain(vectors: DataFrame, d: Int, m: Int, ksub: Int,
      iters: Int): Array[Array[Array[Double]]] = {
    val dsub = d / m
    val init = initSlices(vectors, ksub)
    fusedLloyd(vectors, (0 until m).map { s =>
      (s * dsub, dsub, init.map(_.slice(s * dsub, s * dsub + dsub)))
    }.toArray, iters)
  }

  /** Encode each vector as m per-subspace nearest-codeword ids
    * (columns c0..c{m-1}) — codegen argmin per subspace, no shuffle. */
  def pqEncode(vectors: DataFrame, d: Int,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val m = codebooks.length
    val dsub = d / m
    val codeCols = (0 until m).map { s =>
      nearestOf(slice(col("vec"), s * dsub + 1, dsub), codebooks(s)).as(s"c$s")
    }
    vectors.select(col("id") +: col("vec") +: codeCols: _*)
  }

  /** PQ-ADC top-k: corpus is stored only as PQ codes; each query scores a
    * candidate by the asymmetric distance Σ_s ‖q_s − codeword(c_s)‖² (the
    * classic ADC lookup — here an expression over the broadcast codebook
    * literals). Exact-over-candidates; this brute variant is the bounded
    * oracle baseline, and composing with IVF cells (ivfTopK's candidate
    * equi-join) is the scale path. */
  def pqTopK(vectors: DataFrame, nQueries: Int, topK: Int, d: Int,
      m: Int, ksub: Int, iters: Int): DataFrame = {
    val codebooks = pqTrain(vectors, d, m, ksub, iters)
    val corpus = pqEncode(vectors, d, codebooks)
      .withColumnRenamed("id", "nid").drop("vec")
    val queries = vectors.where(col("id") < nQueries)
      .select(col("id").as("qid"), col("vec").as("qv"))
    val scored = queries.join(corpus, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), adcExpr(codebooks, d / m, col("qv")).as("adc"))
    rankTopK(scored, topK)
  }

  /** ADC score Σ_s ‖q_s − codeword(c_s)‖² as one expression: the query side
    * contributes raw subvectors, the corpus side only its code columns
    * c0..c{m-1}; codebooks ride along as broadcast literals. */
  private def adcExpr(codebooks: Array[Array[Array[Double]]], dsub: Int,
      qv: Column): Column =
    codebooks.indices.map { s =>
      val cb = array(codebooks(s).toIndexedSeq.map(centroidLit): _*)
      ArrayMath.foldSum(
        zip_with(slice(qv, s * dsub + 1, dsub),
          element_at(cb, col(s"c$s") + 1), (a, b) => (a - b) * (a - b)),
        identity)
    }.reduce(_ + _)

  private def rankTopK(scored: DataFrame, topK: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("adc").asc, col("nid").asc)
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= topK)
      .select(col("qid"), col("nid"), (round(col("adc"), 4) + 0.0).as("adc"), col("rnk"))
  }

  /** ANN refine — exact re-rank of a compressed shortlist (the cuVS
    * refine step layered on the reference's pairwise-distance + select_k
    * primitives): PQ-ADC ranks a `shortlist`-deep candidate set from
    * codes alone, then ONLY those rows re-touch the raw vectors for an
    * exact-L2 re-rank to topK. At 100 TB the raw-vector scan is bounded
    * by |queries|·shortlist — an id-keyed join, never a corpus scan;
    * shortlist/topK is the recall-vs-IO knob. */
  def pqRefine(vectors: DataFrame, nQueries: Int, topK: Int, shortlist: Int,
      d: Int, m: Int, ksub: Int, iters: Int): DataFrame = {
    val short = pqTopK(vectors, nQueries, shortlist, d, m, ksub, iters)
      .select(col("qid"), col("nid"))
    val q = vectors.where(col("id") < nQueries)
      .select(col("id").as("qid"), col("vec").as("qv"))
    val c = vectors.select(col("id").as("nid"), col("vec").as("nv"))
    val exact = short.join(q, Seq("qid")).join(c, Seq("nid"))
      .select(col("qid"), col("nid"), DistanceOps.l2sq(col("qv"), col("nv")).as("d2"))
    val w = Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("nid").asc)
    exact.withColumn("rnk", row_number().over(w)).where(col("rnk") <= topK)
      .select(col("qid"), col("nid"),
        (round(sqrt(col("d2")), 4) + 0.0).as("dist"), col("rnk"))
  }

  /** IVF-PQ ANN — the production composition (what FAISS calls IVFPQ):
    * coarse k-means cells bound the candidate set (queries probe the
    * nprobe nearest cells; candidates come from one equi-join on cell id),
    * and PQ-ADC scores candidates from their m-byte codes — the raw corpus
    * vectors are never touched at query time. Codebooks are trained on raw
    * vectors (no residual step) so the closed-form blobs oracle holds; at
    * 100 TB the corpus table is (nid, cluster, c0..c{m-1}) — bytes per
    * vector — and both centroids and codebooks are driver-small literals. */
  def ivfPqTopK(vectors: DataFrame, nQueries: Int, topK: Int, d: Int,
      nlist: Int, nprobe: Int, m: Int, ksub: Int, iters: Int): DataFrame = {
    val dsub = d / m
    // coarse cells and all m PQ codebooks train in ONE fused Lloyd loop:
    // spec 0 is the full-width coarse k-means, specs 1..m the subspaces —
    // iters driver round-trips total instead of (1+m)·iters
    val initK = initSlices(vectors, math.max(nlist, ksub))
    val books = fusedLloyd(vectors,
      (0, d, initK.take(nlist)) +: (0 until m).map { s =>
        (s * dsub, dsub, initK.take(ksub).map(_.slice(s * dsub, s * dsub + dsub)))
      }.toArray, iters)
    val centroids = books(0)
    val codebooks = books.tail
    val assigned = vectors.select(col("id"), col("vec"),
      nearestExpr(centroids).as("cluster"))
    val codeCols = (0 until m).map { s =>
      nearestOf(slice(col("vec"), s * dsub + 1, dsub), codebooks(s)).as(s"c$s")
    }
    val corpus = assigned.select(
      Seq(col("id").as("nid"), col("cluster")) ++ codeCols: _*)
    val queries = vectors.where(col("id") < nQueries)
      .select(col("id").as("qid"), col("vec").as("qv"),
        explode(probesExpr(centroids, nprobe)).as("cluster"))
    val scored = queries.join(corpus, Seq("cluster"))
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), adcExpr(codebooks, dsub, col("qv")).as("adc"))
    rankTopK(scored, topK)
  }

  /** IVF ANN: nlist k-means cells, queries probe the nprobe nearest cells,
    * exact cosine top-k within candidates. The candidate join is an
    * equi-join on cell id — each query touches nprobe/nlist of the corpus.
    */
  def ivfTopK(vectors: DataFrame, nQueries: Int, topK: Int, nlist: Int = 16,
      nprobe: Int = 4, iters: Int = 5): DataFrame = {
    val (assigned, centroids) = kmeans(vectors, nlist, iters)
    val corpus = assigned.select(col("id").as("nid"), col("vec").as("nv"),
      col("cluster"))
    val queries = vectors.where(col("id") < nQueries)
      .select(col("id").as("qid"), col("vec").as("qv"),
        explode(probesExpr(centroids, nprobe)).as("cluster"))
    val scored = queries.join(corpus, Seq("cluster"))
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), ArrayMath.cosine(col("qv"), col("nv")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= topK)
      .select(col("qid"), col("nid"), round(col("cos"), 4).as("cos"), col("rnk"))
  }

  /** Greedy k-center coreset selection (Gonzalez 1985 farthest-point
    * traversal — the 2-approximation diverse-subset pick a curation
    * pipeline uses to seed balanced fine-tuning sets): start from the
    * smallest id, then k−1 times take the point farthest from the
    * selected set and fold its distance into the running min. Per round
    * ONE TakeOrdered (per-partition heaps, no global sort) and one
    * projection over the min-distance column; the only driver state is
    * the current center's d-vector (the k-means centroid convention) —
    * O(k·n·d) total, embarrassingly parallel per round. Returns
    * (rnk, id, dist) with dist = the coverage radius the pick closed. */
  def kCenterSelect(vectors: DataFrame, k: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val v = vectors.select(col("id"), col("vec")).localCheckpoint(true)
    val first = v.orderBy(col("id")).limit(1).head()
    var picks = List((first.getLong(0), 0.0))
    var center = first.getSeq[Double](1)
    var md = v.select(col("id"), col("vec"),
      DistanceOps.l2sq(col("vec"), typedLit(center)).as("d2"))
    for (r <- 2 to k) {
      val p = md.orderBy(col("d2").desc, col("id")).limit(1).head()
      picks ::= (p.getLong(0), p.getDouble(2))
      center = p.getSeq[Double](1)
      md = md.select(col("id"), col("vec"),
        least(col("d2"), DistanceOps.l2sq(col("vec"), typedLit(center))).as("d2"))
      if (r % 4 == 0 && r < k) md = md.localCheckpoint(true)
    }
    picks.reverse.zipWithIndex
      .map { case ((id, d2), i) => (i + 1, id, math.sqrt(d2)) }
      .toDF("rnk", "id", "dist")
      .select(col("rnk"), col("id"), (round(col("dist"), 6) + 0.0).as("dist"))
  }
}
