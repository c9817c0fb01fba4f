package graft.operators

import org.apache.spark.mllib.linalg.{Vectors => MLVectors}
import org.apache.spark.mllib.linalg.distributed.RowMatrix
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Dense factorizations & iterative solvers (SURVEY.md §2.8).
  * MLlib's distributed linear algebra covers the factorizations
  * (computeSVD = distributed Gram + local eig, the same shape as the
  * reference's svdEig path, linalg/svd.cuh:93); the iterative solvers
  * (power iteration, Borůvka MST) are driver-orchestrated DataFrame loops
  * with bounded lineage — one job per iteration, the Spark analog of the
  * reference's restart-style solvers (sparse/solver/lanczos.cuh:35).
  */
object SolverOps {

  /** Free the blocks behind an (eagerly) localCheckpoint'd DataFrame.
    * Round-loop state tables otherwise accumulate one cached RDD per
    * round for the life of the query (ADVICE r9, lapKeyedPhaseDf). Only
    * safe once every consumer is done with it — in the round loops that
    * means after the SUCCESSOR checkpoint has materialized, because the
    * new LogicalRDD carries no lineage into the old blocks. */
  private[graft] def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  private def toRowMatrix(vectors: DataFrame): RowMatrix =
    new RowMatrix(vectors.orderBy(col("id"))
      .select(col("vec")).rdd
      .map(r => MLVectors.dense(r.getSeq[Double](0).toArray)))

  /** Top-k singular values via RowMatrix.computeSVD —
    * reference: linalg/svd.cuh:36 (svd_qr) / tsvd.cuh:34. */
  def singularValues(vectors: DataFrame, k: Int): DataFrame = {
    val spark = vectors.sparkSession
    val svd = toRowMatrix(vectors).computeSVD(k, computeU = false)
    val rows = svd.s.toArray.toSeq.zipWithIndex.map { case (s, i) => (i, s) }
    spark.createDataFrame(rows).toDF("i", "sigma")
      .select(col("i"), round(col("sigma"), 4).as("sigma"))
  }

  /** PCA explained-variance of the top-k components —
    * reference: linalg/pca.cuh:41 (pca_fit returns explained variance). */
  def pcaExplainedVariance(vectors: DataFrame, k: Int): DataFrame = {
    val spark = vectors.sparkSession
    val (_, variance) = toRowMatrix(vectors)
      .computePrincipalComponentsAndExplainedVariance(k)
    val rows = variance.toArray.toSeq.zipWithIndex.map { case (v, i) => (i, v) }
    spark.createDataFrame(rows).toDF("i", "explained")
      .select(col("i"), round(col("explained"), 6).as("explained"))
  }

  /** pca_transform: project rows onto the top-k principal components —
    * reference: linalg/pca.cuh:126 (pca_transform; inverse :152). The factor
    * V_k comes from the d×d covariance eig (distributed Gram + mean pass,
    * local eig — the svdEig split); the projection is a per-row broadcast
    * matvec (k codegen'd ArrayDot lanes, no shuffle). Components are
    * sign-normalized so the largest-|v| coordinate is positive — the
    * reference's sign_flip convention (matrix/sign_flip.cuh:30) that makes
    * the factor deterministic across eig backends.
    */
  def pcaTransform(vectors: DataFrame, k: Int): DataFrame = {
    import breeze.linalg._
    val g = gramMatrix(vectors)
    val d = g.rows
    val nMu = vectors.agg(
      graft.functions.VectorAgg.vectorSum(col("vec")).as("s"),
      count(lit(1)).as("n")).head()
    val n = nMu.getLong(1).toDouble
    val mu = DenseVector(nMu.getSeq[Double](0).toArray) / n
    val cov = (g - (mu * mu.t) * n) / (n - 1.0)
    val es = eigSym((cov + cov.t) / 2.0)
    val order = es.eigenvalues.toArray.zipWithIndex.sortBy(-_._1).map(_._2).take(k)
    val comps: Seq[Seq[Double]] = order.toSeq.map { c =>
      val v = (0 until d).map(t => es.eigenvectors(t, c))
      val mx = v.maxBy(math.abs)
      if (mx < 0) v.map(-_) else v
    }
    val centered = graft.functions.ArrayMath.sub(col("vec"), typedLit(mu.toArray.toSeq))
    val projections = comps.zipWithIndex.map { case (v, t) =>
      struct(lit(t).as("comp"),
        graft.functions.ArrayMath.dot(centered, typedLit(v)).as("value"))
    }
    vectors.select(col("id"), explode(array(projections: _*)).as("p"))
      .select(col("id"), col("p.comp").as("comp"),
        (round(col("p.value"), 4) + 0.0).as("value"))
  }

  /** pca_transform ∘ pca_inverse_transform round trip: project onto V_k,
    * reconstruct x̂ = V_k·z + μ, emit reconstructed lanes — reference:
    * linalg/pca.cuh:152 (pca_inverse_transform). With k = rank the round
    * trip is exact, which makes the whole transform/inverse pair
    * hash-checkable against the input fixture. Both directions are per-row
    * broadcast matvecs (no shuffle).
    */
  def pcaRoundTrip(vectors: DataFrame, k: Int): DataFrame = {
    import breeze.linalg._
    val g = gramMatrix(vectors)
    val d = g.rows
    val nMu = vectors.agg(
      graft.functions.VectorAgg.vectorSum(col("vec")).as("s"),
      count(lit(1)).as("n")).head()
    val n = nMu.getLong(1).toDouble
    val mu = DenseVector(nMu.getSeq[Double](0).toArray) / n
    val cov = (g - (mu * mu.t) * n) / (n - 1.0)
    val es = eigSym((cov + cov.t) / 2.0)
    val order = es.eigenvalues.toArray.zipWithIndex.sortBy(-_._1).map(_._2).take(k)
    val comps = order.toSeq.map { c =>
      val v = (0 until d).map(t => es.eigenvectors(t, c))
      val mx = v.maxBy(math.abs)
      if (mx < 0) v.map(-_) else v
    }
    val centered = graft.functions.ArrayMath.sub(col("vec"), typedLit(mu.toArray.toSeq))
    val z = comps.map(v => graft.functions.ArrayMath.dot(centered, typedLit(v)))
    // x̂_lane = μ_lane + Σ_t z_t · V[t][lane]
    val recon = (0 until d).map { lane =>
      z.zip(comps).map { case (zt, v) => zt * lit(v(lane)) }
        .reduce(_ + _) + lit(mu(lane))
    }
    vectors.select(col("id"), posexplode(array(recon: _*)).as(Seq("pos", "v")))
      .select(col("id"), col("pos"), (round(col("v"), 4) + 0.0).as("v"))
  }

  /** svd right-singular vectors V_k as a DataFrame (comp, lane, v) — the
    * factor output of svd/tsvd a pipeline consumes for projection/
    * reconstruction (reference: linalg/svd.cuh:36 svd_qr's V, tsvd.cuh:63
    * components). From the distributed-Gram eig (svdEig path), rows
    * sign-normalized by the reference's sign_flip convention. */
  def svdRightVectors(vectors: DataFrame, k: Int): DataFrame = {
    import breeze.linalg._
    val spark = vectors.sparkSession
    val g = gramMatrix(vectors)
    val d = g.rows
    val es = eigSym((g + g.t) / 2.0)
    val order = es.eigenvalues.toArray.zipWithIndex.sortBy(-_._1).map(_._2).take(k)
    val rows = order.toSeq.zipWithIndex.flatMap { case (c, t) =>
      val v = (0 until d).map(i => es.eigenvectors(i, c))
      val mx = v.maxBy(math.abs)
      val sv = if (mx < 0) v.map(-_) else v
      sv.zipWithIndex.map { case (x, lane) => (t, lane,
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    }
    spark.createDataFrame(rows).toDF("comp", "lane", "v")
  }

  /** Dominant eigenvalue of the d×d Gram matrix XᵀX: one distributed
    * treeAggregate pass accumulates the d² outer-product partials
    * (mergeable, d bounded — the cov/gram Aggregator pattern of SURVEY §4),
    * then a local symmetric eig on the driver — the same
    * distributed-Gram + local-eig split as the reference's svdEig path
    * (linalg/svd.cuh:93, eig.cuh:121) and MLlib's computeSVD.
    */
  def topEigenGram(vectors: DataFrame): Double =
    breeze.linalg.eigSym(gramMatrix(vectors))
      .eigenvalues.toArray.max

  /** QR: R factor of the tall-skinny matrix via RowMatrix.tallSkinnyQR —
    * reference: linalg/qr.cuh:73 (qr_get_qr). Emitted as upper-triangular
    * COO (i, j, r). Sign convention: rows flipped so diag(R) ≥ 0
    * (deterministic across BLAS implementations — the reference's
    * sign_flip normalization, matrix/sign_flip.cuh:30). */
  def qrR(vectors: DataFrame): DataFrame = {
    val spark = vectors.sparkSession
    val r = toRowMatrix(vectors).tallSkinnyQR(computeQ = false).R
    val d = r.numCols
    val rows = for {
      i <- 0 until r.numRows
      sign = if (r(i, i) < 0) -1.0 else 1.0
      j <- i until d
    } yield (i, j, BigDecimal(sign * r(i, j)).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
    spark.createDataFrame(rows).toDF("i", "j", "r")
  }

  /** Q factor of the tall-skinny QR: Q = A·R⁻¹ with the d×d R sign-
    * normalized (positive diagonal, so Q is unique), inverted locally and
    * folded into per-row projection EXPRESSIONS — one map-side pass, no
    * shuffle, nothing driver-sized but the d×d triangle. The `qr_get_q`
    * companion of [[qrR]] — reference: linalg/qr.cuh:34 (qr_get_q). */
  def qrQ(vectors: DataFrame): DataFrame = {
    val r = toRowMatrix(vectors).tallSkinnyQR(computeQ = false).R
    val d = r.numCols
    val signs = Array.tabulate(d)(i => if (r(i, i) < 0) -1.0 else 1.0)
    val rm = new breeze.linalg.DenseMatrix(d, d,
      Array.tabulate(d * d)(k => signs(k % d) * r(k % d, k / d)))
    val rinv = breeze.linalg.inv(rm)
    val qCols = (0 until d).map { j =>
      (0 until d).map(k => element_at(col("vec"), k + 1) * lit(rinv(k, j)))
        .reduce(_ + _).as(s"q$j")
    }
    vectors.select(col("id") +: qCols: _*)
  }

  /** Least squares x̂ = (AᵀA)⁻¹Aᵀy: one treeAggregate pass accumulates the
    * d×d normal matrix + d-vector partials; local solve on the driver —
    * reference: linalg/lstsq.cuh:72 (lstsqEig path). */
  def lstsq(data: DataFrame): Array[Double] = {
    // data: (vec ARRAY<DOUBLE>, y DOUBLE)
    val d = data.head().getSeq[Double](0).length
    val acc = data.select(col("vec"), col("y")).rdd.treeAggregate(new Array[Double](d * d + d))(
      seqOp = (a, row) => {
        val x = row.getSeq[Double](0); val y = row.getDouble(1)
        var i = 0
        while (i < d) {
          var j = 0
          while (j < d) { a(i * d + j) += x(i) * x(j); j += 1 }
          a(d * d + i) += x(i) * y
          i += 1
        }
        a
      },
      combOp = (a, b) => { var k = 0; while (k < a.length) { a(k) += b(k); k += 1 }; a })
    val ata = new breeze.linalg.DenseMatrix(d, d, acc.take(d * d))
    val aty = breeze.linalg.DenseVector(acc.drop(d * d))
    (ata \ aty).toArray
  }

  /** One distributed pass accumulating the d×d Gram matrix XᵀX
    * (the cov/gram treeAggregate of SURVEY §4; d² buffer, d bounded). */
  def gramMatrix(vectors: DataFrame): breeze.linalg.DenseMatrix[Double] = {
    val vecs = vectors.select(col("vec"))
    val d = vecs.head().getSeq[Double](0).length
    val acc = vecs.rdd.treeAggregate(new Array[Double](d * d))(
      seqOp = (a, row) => {
        val x = row.getSeq[Double](0)
        var i = 0
        while (i < d) {
          val xi = x(i); var j = 0
          while (j < d) { a(i * d + j) += xi * x(j); j += 1 }
          i += 1
        }
        a
      },
      combOp = (a, b) => { var t = 0; while (t < a.length) { a(t) += b(t); t += 1 }; a })
    new breeze.linalg.DenseMatrix(d, d, acc)
  }

  /** Randomized SVD (Halko et al.) with q power iterations over the
    * distributed Gram: σᵢ(A) = √eig of the projected QᵀGQ where Q spans
    * GᵠΩ — reference: linalg/rsvd.cuh:41 (rsvd_fixed_rank; symmetric form
    * rsvd.cuh:98). One distributed pass (Gram) + local randomized
    * projection; for d beyond driver memory the two-pass Y = AΩ / B = QᵀA
    * variant replaces the local part (documented future work).
    */
  def rsvdSingularValues(vectors: DataFrame, k: Int, p: Int = 8,
      q: Int = 2, seed: Long = 5): Seq[Double] = {
    import breeze.linalg._
    val g = gramMatrix(vectors)
    val d = g.rows
    val l = k + p
    val rng = new scala.util.Random(seed)
    var y = DenseMatrix.tabulate(d, l)((_, _) => rng.nextGaussian())
    for (_ <- 0 to q) y = g * y
    val qr.QR(qm, _) = qr.reduced(y)
    val m = qm.t * (g * qm)
    eigSym((m + m.t) / 2.0).eigenvalues.toArray.sorted.reverse.take(k)
      .map(e => math.sqrt(math.max(e, 0.0))).toSeq
  }

  /** eigsh: k smallest eigenpairs of a sparse symmetric matrix via Lanczos
    * with full reorthogonalization — reference: sparse/solver/lanczos.cuh:35
    * (lanczos_compute_eigenpairs; detail lanczos_smallest:402). This is the
    * DRIVER-LOCAL tier: the COO table is collected once and every SpMV runs
    * on the driver (no Spark job per step), as do the basis vectors and the
    * m×m tridiagonal eig. Callers past driver memory go through
    * [[eigshSmallestAuto]] (which holds the nnz dispatch) or straight to
    * the sharded loop, [[eigshSharded]].
    */
  def eigshSmallest(coo: DataFrame, n: Int, k: Int, m: Int = 40,
      seed: Long = 3): Seq[Double] = {
    val edges = coo.select(col("row"), col("col"), col("value")).collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2)))
    def spmv(v: Array[Double]): Array[Double] = {
      val out = new Array[Double](n)
      var i = 0
      while (i < edges.length) {
        val e = edges(i); out(e._1) += e._3 * v(e._2); i += 1
      }
      out
    }
    val steps = math.min(m, n)
    val q = Array.ofDim[Double](steps + 1, n)
    val alpha = new Array[Double](steps)
    val beta = new Array[Double](steps)
    // deterministic start vector
    val rng = new scala.util.Random(seed)
    q(0) = Array.fill(n)(rng.nextGaussian())
    val n0 = math.sqrt(q(0).map(x => x * x).sum)
    q(0) = q(0).map(_ / n0)
    var actual = steps
    var j = 0
    while (j < steps) {
      var w = spmv(q(j))
      alpha(j) = (0 until n).map(i => w(i) * q(j)(i)).sum
      // full reorthogonalization against all previous basis vectors
      for (t <- 0 to j) {
        val d = (0 until n).map(i => w(i) * q(t)(i)).sum
        var i = 0; while (i < n) { w(i) -= d * q(t)(i); i += 1 }
      }
      beta(j) = math.sqrt(w.map(x => x * x).sum)
      if (beta(j) < 1e-12) { actual = j + 1; j = steps }
      else { q(j + 1) = w.map(_ / beta(j)); j += 1 }
    }
    val t = breeze.linalg.DenseMatrix.zeros[Double](actual, actual)
    for (i <- 0 until actual) {
      t(i, i) = alpha(i)
      if (i + 1 < actual) { t(i, i + 1) = beta(i); t(i + 1, i) = beta(i) }
    }
    breeze.linalg.eigSym(t).eigenvalues.toArray.sorted.take(k).toSeq
  }

  /** eigsh with the basis SHARDED across the cluster — the scale-out form
    * of [[eigshSmallest]] for n beyond driver memory, and the one sharded
    * Lanczos loop: each step expands a block of `b` lanes (b=1 is the
    * reference's single-vector thick-restart lanczos_smallest,
    * sparse/solver/detail/lanczos.cuh:402; b>1 the block Lanczos of
    * Golub/Underwood, `b`× fewer driver round-trips for the same Krylov
    * dimension).
    *
    * Layout: the basis V lives as a DataFrame (i, qs ARRAY<DOUBLE>) — row i
    * holds coordinate i of every lane; the driver holds only the projected
    * matrix H = VᵀAV and per-step coefficient vectors, never an n-vector.
    * Every per-row block quantity is one ARRAY<DOUBLE> column too (the
    * block's coordinates x, its SpMV w), every block sum one `VectorAgg`
    * and every update one [[graft.functions.ArrayMatVec]] against a
    * coefficient array: a step's plans hold the same number of expressions
    * at any block width, so their planning cost does not grow with b.
    *
    * Step: two actions, the checkpoint of the SpMV table and one collect.
    * The SpMV (b matvecs ride one join, so the edge table is touched once
    * per block) feeds the first classical Gram-Schmidt pass; its
    * coefficients C₁ come back into the same plan as a broadcast row, and
    * the second pass re-MEASURES ⟨q_t, w₁⟩ from the subtracted data along
    * with the b×b Gram of W₁. The second pass must read the
    * subtracted vectors, not be derived from a driver-held Gram: C₂ only
    * corrects the measurement error in C₁, while the orthogonality drift
    * CGS2 exists to kill is the cancellation rounding in fl(W − VC₁) itself
    * — the Gram shortcut is CGS1 in disguise and produces ghost eigenvalues.
    * The new block is orthonormalized on the driver from
    * G(W′) = G(W₁) − C₂ᵀC₂ (W₁ = W′ + V·C₂ with W′ ⊥ V), by a rank-revealing
    * eigen-decomposition; a rank-deficient Gram deflates, and a fully
    * deflated block means the Krylov space is exhausted (invariant
    * subspace), where Rayleigh-Ritz is exact.
    *
    * Certificates: for a Ritz pair (θ, y) of the measured H,
    * ‖A·Vy − θ·Vy‖ = ‖R·y_tail‖ (R the block coupling, y_tail the last
    * block's components) plus at most √(dropped λ)·‖y_tail‖ for deflated
    * directions. Once every wanted pair is under `tol` the values return.
    * `tol` is the RESIDUAL bound; the eigenvalue error obeys Kato-Temple
    * |θ − λ| ≤ tol²/gap, so a caller that knows its spectral gap may pass
    * a looser tol with a still-certified value.
    *
    * Thick restart: when the lane budget `m` runs out first, the basis is
    * compressed to the min(k+2, lanes) best Ritz vectors (a per-row
    * broadcast matvec) plus the newest orthonormal block, H is reset to
    * diag(θ), and the next step's full reorthogonalization re-measures the
    * coupling between the two. Up to `maxRestarts` restarts, stopping early
    * once the wanted Ritz values repeat to 1e-9 across a restart;
    * `maxRestarts = 0` is the single-phase block form.
    *
    * Returns (eigenvalues, Ritz vectors): the vectors are ONE distributed
    * per-row matvec over the final basis, (i, v ARRAY<DOUBLE> of k coords),
    * row i of V·Y for the driver-held subspace eigenvectors Y. It is a lazy
    * checkpoint planned inside the loop's confs: nothing runs unless the
    * caller consumes it, and then it runs the plan made here.
    */
  def eigshSharded(coo: DataFrame, n: Long, k: Int, m: Int = 25, b: Int = 2,
      maxRestarts: Int = 3, tol: Double = 1e-9,
      seed: Long = 3): (Seq[Double], DataFrame) = {
    import breeze.linalg.{eigSym, norm, DenseMatrix, DenseVector}
    import graft.functions.{ArrayMatVec, VectorAgg}
    val spark = coo.sparkSession
    graft.Instrument.inc("eigsh.b", b)
    // The loop's width sizes by cells (rows × basis width m+b), and each
    // step plans fresh lane counts and coefficient literals
    // (graft.LoopPolicy). Its two equi-joins are merge-hinted: every step
    // plans them as the zero-exchange merge joins the layout below is
    // built for, whatever the size estimate of either side.
    graft.LoopPolicy.scope(spark, Some(n), lanes = m + b, stepped = true) { parts =>
      // hash-distribute the edge table on the join key ONCE and record the
      // sort order in the checkpoint: LogicalRDD carries outputPartitioning/
      // outputOrdering, so every step's edges⋈qj join plans ZERO exchange
      // and ZERO sort on the (nnz-sized) edge side. The basis keeps the
      // matching invariant (hash-partitioned on i, sorted by i; every
      // update is a projection, and projections are alias-aware), so qj
      // (i→col) arrives at the edge join already distributed on the key.
      val edges = coo.select(col("row"), col("col"), col("value"))
        .repartition(parts, col("col")).sortWithinPartitions("col")
        .localCheckpoint(true)
      val cap = m // lane budget; space exhaustion is caught by deflation
      // relative floor reveals rank loss inside a healthy block; the
      // absolute floor (λ = 1e-20 ⇔ remainder norm 1e-10) keeps the
      // genuinely nonzero remainders of small-norm matrices instead of
      // deflating to a falsely-certified start space
      val rankTol = 1e-14
      val absFloor = 1e-20
      // b deterministic hash-gaussian streams, eigen-orthonormalized (the
      // same G = UΛUᵀ → Q = X·U·Λ^{-1/2} map the deflation path uses)
      val raw0 = spark.range(n).select(col("id").as("i"), array((0 until b).map(t =>
          RandomOps.normal(col("id"), seed, s"blz$t")): _*).as("x"))
        .repartition(parts, col("i")).sortWithinPartitions("i")
        .localCheckpoint(true)
      /** a w×w Gram from its row-major `gramSum` array */
      def gramOf(g: Seq[Double], w: Int) = DenseMatrix.tabulate(w, w)((a, c) => g(a * w + c))
      /** the coefficient array of the mat-vec x ↦ Mᵀx: M's columns, each
        * a row of the row-major ArrayMatVec operand */
      def colsOf(mat: DenseMatrix[Double]): Column =
        typedLit(for { u <- 0 until mat.cols; t <- 0 until mat.rows } yield mat(t, u))
      /** rank-revealing orthonormalization map: G = UΛUᵀ → columns of
        * M = U_r·Λ_r^{-1/2} (w×r) with Λ_r the eigenvalues above tol;
        * also returns R_eff = Λ_r^{1/2}·U_rᵀ (r×w), the block coupling,
        * and √(max dropped λ) — the residual norm a deflated direction can
        * still carry, which the certificate must add to its bound. */
      def orthMap(g: DenseMatrix[Double]):
          (DenseMatrix[Double], DenseMatrix[Double], Int, Double) = {
        val es = eigSym((g + g.t) *:* 0.5)
        val lam = es.eigenvalues
        val cut = math.max(absFloor, rankTol * lam.toArray.max)
        val keep = (0 until g.rows).filter(i => lam(i) > cut)
        val r = keep.size
        val dropped = (0 until g.rows).filterNot(keep.contains)
          .map(i => math.max(lam(i), 0.0)).foldLeft(0.0)(math.max)
        val mMap = DenseMatrix.zeros[Double](g.rows, r)
        val rEff = DenseMatrix.zeros[Double](r, g.rows)
        keep.zipWithIndex.foreach { case (ei, u) =>
          val s = math.sqrt(lam(ei))
          (0 until g.rows).foreach { t =>
            mMap(t, u) = es.eigenvectors(t, ei) / s
            rEff(u, t) = es.eigenvectors(t, ei) * s
          }
        }
        (mMap, rEff, r, math.sqrt(dropped))
      }
      val tSetup0 = System.nanoTime()
      val g0 = raw0.agg(VectorAgg.gramSum(col("x"))).head().getSeq[Double](0)
      val (m0, _, b0, _) = orthMap(gramOf(g0, b))
      var basis = raw0.select(col("i"), ArrayMatVec.matVec(col("x"), colsOf(m0)).as("qs"))
        .localCheckpoint(true)
      var lanes = b0 // total lanes; the newest curB of them are unmeasured
      var curB = b0
      graft.Instrument.inc("eigsh.ms_setup", (System.nanoTime() - tSetup0) / 1000000L)
      // a restart keeps min(k+2, lanes) Ritz lanes plus one block, which
      // may exceed a budget m < k+2
      val h = DenseMatrix.zeros[Double](math.max(cap, k + 2) + b, math.max(cap, k + 2) + b)
      var result: Seq[Double] = null
      var ys: Seq[Array[Double]] = null // subspace eigenvectors of `result`
      var prevRitz: Seq[Double] = Nil
      var restarts = 0
      while (result == null) {
        graft.Instrument.inc("eigsh.block_steps")
        val tStep0 = System.nanoTime()
        // ---- measure the newest block [lanes-curB, lanes) ----
        val j0 = lanes - curB
        val qj = basis.select(col("i").as("col"), slice(col("qs"), j0 + 1, curB).as("x"))
        val w0 = edges.join(qj.hint("merge"), Seq("col")).groupBy(col("row").as("i"))
          .agg(VectorAgg.axpySum(col("x"), col("value")).as("w"))
        // lazy checkpoint: materialized by this step's action, then read
        // by the next basis update as a one-level lineage leaf
        val df = basis.join(w0.hint("merge"), Seq("i"), "left")
          .select(col("i"), col("qs"),
            coalesce(col("w"), typedLit(Seq.fill(curB)(0.0))).as("w"))
          .localCheckpoint(false)
        // one collect per step: the CGS1 coefficients C₁ = Σ w·qsᵀ
        // (row t: lane t's coefficients) are a 1-row broadcast subtree
        // crossJoined back, so the CGS2 pass consumes them WITHOUT a
        // driver round-trip (measured ~100-170 ms of a ~400-700 ms step at
        // n=1e5). BroadcastNestedLoopJoin streams the probe side in place,
        // so the partial-aggregate folds see the same rows in the same
        // order as a two-action form. C₁ itself rides back on the
        // collected row via first() (every joined row carries the
        // identical broadcast array).
        val c1Row = df.agg(VectorAgg.outerSum(col("w"), col("qs")).as("c1"))
        val w1 = df.crossJoin(broadcast(c1Row)).select(col("i"), col("qs"),
          ArrayMatVec.residual(col("w"), col("qs"), col("c1")).as("w"), col("c1"))
        // plan-vs-execute attribution: force the action's own
        // QueryExecution first, so ms_r1_plan isolates driver-side
        // Catalyst work from the jobs. collect()(0) (not head()) keeps
        // the forced plan the one the action runs — head() builds a
        // fresh limit-1 QueryExecution and would re-plan.
        val r2Ds = w1.agg(VectorAgg.outerSum(col("w"), col("qs")).as("c2"),
          VectorAgg.gramSum(col("w")).as("g"), first(col("c1")).as("c1"))
        r2Ds.queryExecution.executedPlan
        graft.Instrument.inc("eigsh.ms_r1_plan", (System.nanoTime() - tStep0) / 1000000L)
        val r2 = r2Ds.collect()(0)
        graft.Instrument.inc("eigsh.ms_r1", (System.nanoTime() - tStep0) / 1000000L)
        // row-major curB × lanes: c(t * lanes + s) = ⟨q_s, w_t⟩
        val c1 = r2.getSeq[Double](2).toArray
        val c2 = r2.getSeq[Double](0).toArray
        (0 until curB).foreach { t =>
          (0 until lanes).foreach { s =>
            val v = c1(t * lanes + s) + c2(t * lanes + s)
            h(s, j0 + t) = v; h(j0 + t, s) = v
          }
        }
        val gW1 = gramOf(r2.getSeq[Double](1), curB)
        val gPrime = DenseMatrix.tabulate[Double](curB, curB) { (a, c) =>
          gW1(a, c) - (0 until lanes).map(s => c2(a * lanes + s) * c2(c * lanes + s)).sum }
        val (mMap, rEff, rNew, dropBound) = orthMap(gPrime)
        // Ritz pairs of the fully-measured H[0:lanes], smallest first
        lazy val es = eigSym(h(0 until lanes, 0 until lanes).copy)
        def ritz(cnt: Int) = es.eigenvalues.toArray.zipWithIndex.sortBy(_._1).take(cnt)
        def finish(): Unit = {
          val ord = ritz(k)
          result = ord.map(_._1).toSeq
          ys = ord.map { case (_, c) => (0 until lanes).map(t => es.eigenvectors(t, c)).toArray }
        }
        // certificate: residual of a Ritz pair (θ, y) is ‖R_eff·y_tail‖
        // plus at most √(dropped λ) per deflated direction — the deflation
        // cut must show up in the bound, not silently vanish from it
        if (lanes >= k + 2 || rNew == 0) {
          val maxBound = ritz(k).map { case (_, cIdx) =>
            val yTail = DenseVector((j0 until lanes)
              .map(s => es.eigenvectors(s, cIdx)).toArray)
            val kept = if (rNew == 0) 0.0 else norm(rEff * yTail)
            kept + dropBound * norm(yTail)
          }.max
          if (maxBound < tol) finish()
        }
        if (result == null) {
          val restart = lanes + rNew > cap
          def settled = prevRitz.nonEmpty &&
            prevRitz.zip(ritz(k)).map { case (a, (c, _)) => math.abs(a - c) }.max < 1e-9
          if (rNew == 0 || (restart && (restarts == maxRestarts || settled))) finish()
          else {
            // the next block Q_new = (W₁ − V·C₂)·M, derived from the
            // CHECKPOINTED df with c1/c2 as literals (NOT from w1 — its
            // broadcast-c1 subtree would re-execute the c1 aggregate when
            // the next step materializes the basis). Arithmetic identical
            // to the in-plan form: (w − C₁·qs) − C₂·qs, the same residual
            // expression. w2 is aliased in its own projection level so it
            // is evaluated once per row.
            val w2d = df.select(col("i"), col("qs"), ArrayMatVec.residual(
              ArrayMatVec.residual(col("w"), col("qs"), typedLit(c1.toSeq)),
              col("qs"), typedLit(c2.toSeq)).as("w2"))
            val newLanes = ArrayMatVec.matVec(col("w2"), colsOf(mMap))
            if (restart) {
              // thick restart: the l best Ritz vectors V·y plus Q_new;
              // H restarts as diag(θ) and the next step measures the
              // Ritz/Q_new coupling through its full reorthogonalization
              val l = math.min(k + 2, lanes)
              val kept = ritz(l)
              prevRitz = kept.take(k).map(_._1).toSeq
              val ritzLanes = ArrayMatVec.matVec(col("qs"), typedLit(kept.toSeq.flatMap {
                case (_, c) => (0 until lanes).map(t => es.eigenvectors(t, c)) }))
              basis = w2d.select(col("i"), concat(ritzLanes, newLanes).as("qs"))
                .localCheckpoint(true)
              h := 0.0
              kept.zipWithIndex.foreach { case ((th, _), t) => h(t, t) = th }
              lanes = l + rNew
              restarts += 1
              graft.Instrument.inc("eigsh.restarts")
            } else {
              // NO checkpoint on the expanded basis: it is a cheap
              // projection over the checkpointed df, so the next step's
              // two consumers (qj — column-pruned to the new lanes — and
              // the concat feeding the next df) recompute the block's
              // mat-vecs per row instead of paying an n×lanes serialize
              // per step. Lineage stays one level (df is a LogicalRDD leaf).
              basis = w2d.select(col("i"), concat(col("qs"), newLanes).as("qs"))
              lanes += rNew
            }
            curB = rNew
          }
        }
      }
      val vecs = basis.select(col("i"),
        ArrayMatVec.matVec(col("qs"), typedLit(ys.flatten.toSeq)).as("v"))
        .localCheckpoint(false)
      (result, vecs)
    }
  }

  /** kAuto-style block-width dispatch for [[eigshSharded]]
    * (VERDICT r10 item 3; the reference's measured-crossover pattern,
    * matrix/detail/select_k-inl.cuh:38). Pinned by the round-11 FLOOR
    * measurements (SCALE.md): on the diag fixture the per-cell idle floors
    * are b1/b2/b4 = 5.78/4.3/5.79 s at n=1e5, 80/61/63 at 1e6, 96/67/74
    * at 4e6 — so the lever does NOT invert with n (the round-10 "b=4
    * slower than b=1" reading was suite contention; their floors differ
    * by 0.01 s): b=2 is floor-best at every probed size. Cost model for
    * why, and for the regime bounds: a step adds b lanes (latency ∝ L/b)
    * while its re-orth/Gram aggregates move b·n extra volume per lane
    * (∝ L·b·n) on top of the b-invariant SpMV (∝ L·nnz) — so width buys
    * latency until b·n rivals nnz + stage cost, and on everything probed
    * (nnz = n) that point is past b=4. The k/m clamp is structural, not
    * measured: the certificate needs fully-measured lanes past k before
    * the cap, so width must fit in the basis room.
    */
  def eigshBlockAuto(n: Long, nnz: Long, k: Int, m: Int): Int = {
    val room = math.max(1, m - k - 2)
    math.min(2, room)
  }

  /** The [[eigshSmallestAuto]] tier: driver-local up to 1e6 nnz (and n
    * that fits an Int), where per-step job overhead would dominate. */
  def eigshLocalTier(n: Long, nnz: Long): Boolean = nnz <= 1000000L && n <= Int.MaxValue

  /** Size-dispatched eigsh entry (the kAuto composition) and the one place
    * that counts nnz: driver-local [[eigshSmallest]] in [[eigshLocalTier]],
    * the sharded block loop [[eigshSharded]] above it with
    * [[eigshBlockAuto]] width and no restart (the certificate-terminated
    * large-n regime). Counts the tier it takes, `eigsh.tier.local` or
    * `eigsh.tier.sharded`. */
  def eigshSmallestAuto(coo: DataFrame, n: Long, k: Int, m: Int = 25,
      seed: Long = 3): Seq[Double] = {
    val nnz = coo.count()
    if (eigshLocalTier(n, nnz)) {
      graft.Instrument.inc("eigsh.tier.local")
      eigshSmallest(coo, n.toInt, k, m, seed)
    } else {
      graft.Instrument.inc("eigsh.tier.sharded")
      eigshSharded(coo, n, k, m, b = eigshBlockAuto(n, nnz, k, m),
        maxRestarts = 0, seed = seed)._1
    }
  }

  /** tsvd transform + inverse_transform + reconstruction error —
    * reference: linalg/tsvd.cuh:63,97 (svdReconstruction linalg/svd.cuh:195).
    * V_k comes from the distributed Gram eig (svdEig path); project/
    * reconstruct are per-row codegen-able expressions; the Frobenius
    * reconstruction error is one aggregate:
    * ‖A − A V Vᵀ‖²_F = ‖A‖²_F − ‖AV‖²_F.
    */
  def tsvdReconstructionError(vectors: DataFrame, k: Int): (Double, Double) = {
    import breeze.linalg._
    val g = gramMatrix(vectors)
    val d = g.rows
    val es = eigSym(g)
    val order = es.eigenvalues.toArray.zipWithIndex.sortBy(-_._1).map(_._2).take(k)
    // ‖A‖²F = tr(G); ‖AV‖²F = tr(VᵀGV) = Σ top-k eigenvalues
    val totalF = (0 until d).map(i => g(i, i)).sum
    val keptF = order.map(i => es.eigenvalues(i)).sum
    (math.max(totalF - keptF, 0.0), totalF)
  }

  /** cholesky_rank1_update: L ← chol(LLᵀ + xxᵀ) in O(d²) without
    * refactorizing — reference: linalg/cholesky_r1_update.cuh:116.
    * Driver-local (d×d), the incremental-aggregate building block for
    * streaming covariance factors. */
  def choleskyRank1Update(l: breeze.linalg.DenseMatrix[Double],
      x: breeze.linalg.DenseVector[Double]): breeze.linalg.DenseMatrix[Double] = {
    val out = l.copy
    val w = x.copy
    val d = w.length
    var i = 0
    while (i < d) {
      val r = math.sqrt(out(i, i) * out(i, i) + w(i) * w(i))
      val c = r / out(i, i)
      val s = w(i) / out(i, i)
      out(i, i) = r
      var j = i + 1
      while (j < d) {
        out(j, i) = (out(j, i) + s * w(j)) / c
        w(j) = c * w(j) - s * out(j, i)
        j += 1
      }
      i += 1
    }
    out
  }

  /** linear_assignment: min-cost perfect matching via the Hungarian
    * algorithm with potentials (driver-local; the reference solves dense
    * n×n LAP on one GPU, solver/linear_assignment.cuh:60 — SURVEY §2.4
    * notes n ≤ ~1e4 driver-local as the plan; distributed auction variant
    * is future work). Returns assignment (row → col).
    */
  def hungarian(cost: Array[Array[Double]]): (Array[Int], Double) = {
    val n = cost.length
    val INF = Double.MaxValue / 4
    val u = new Array[Double](n + 1)
    val v = new Array[Double](n + 1)
    val p = new Array[Int](n + 1) // p(j) = row matched to column j (1-based)
    val way = new Array[Int](n + 1)
    for (i <- 1 to n) {
      p(0) = i
      var j0 = 0
      val minv = Array.fill(n + 1)(INF)
      val used = new Array[Boolean](n + 1)
      var done = false
      while (!done) {
        used(j0) = true
        val i0 = p(j0); var delta = INF; var j1 = -1
        for (j <- 1 to n if !used(j)) {
          val cur = cost(i0 - 1)(j - 1) - u(i0) - v(j)
          if (cur < minv(j)) { minv(j) = cur; way(j) = j0 }
          if (minv(j) < delta) { delta = minv(j); j1 = j }
        }
        for (j <- 0 to n) {
          if (used(j)) { u(p(j)) += delta; v(j) -= delta }
          else minv(j) -= delta
        }
        j0 = j1
        if (p(j0) == 0) done = true
      }
      while (j0 != 0) { val j1 = way(j0); p(j0) = p(j1); j0 = j1 }
    }
    val assign = new Array[Int](n)
    for (j <- 1 to n) if (p(j) > 0) assign(p(j) - 1) = j - 1
    val total = (0 until n).map(i => cost(i)(assign(i))).sum
    (assign, total)
  }

  /** LAP over a deterministic hash cost matrix, as a DataFrame result. */
  def lapAssignment(spark: SparkSession, n: Int): DataFrame = {
    val cost = Array.tabulate(n, n)((i, j) => ((i * 31 + j * 17) % 97) / 97.0)
    val (assign, total) = hungarian(cost)
    val rows = (0 until n).map(i => (i, assign(i),
      BigDecimal(cost(i)(assign(i))).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    spark.createDataFrame(rows).toDF("row", "col", "cost")
  }

  /** [[lapAssignment]] summarized to the provably UNIQUE part of the
    * solution: the optimal total (integer 1/97-units, so the compare is
    * exact). The argmin permutation can be non-unique, which is why the
    * per-row form cannot have an independent oracle; the total can — the
    * driver query uses this form, the permutation properties live in
    * Solver2Spec. */
  def lapAssignmentSummary(spark: SparkSession, n: Int): DataFrame = {
    val cost = Array.tabulate(n, n)((i, j) => ((i * 31 + j * 17) % 97).toDouble)
    val (assign, total) = hungarian(cost)
    spark.createDataFrame(Seq((assign.distinct.length.toLong, math.round(total))))
      .toDF("n_assigned", "total_units")
  }

  /** Kernel width T of [[lapAuctionDistributed]]: each row keeps its T
    * cheapest columns (plus the diagonal). The n² kernel BUILD
    * (`lap.ms_kernel`) is nearly T-insensitive (the n² generator scan
    * dominates; the bounded heap is O(T) per partial), but a kernel too
    * THIN starves the auction — its ε-CS fixed point misses optimal
    * columns, so every phase burns the full `maxRepair` column-generation
    * re-auctions. Probe floors (ScaleProbe `lap n T`, fresh-JVM 2-rep
    * minima, planted-dual fixture; SCALE.md `laptopt` rows): n=1e4
    * T=8/16/32/64 → 19.0/14.4/13.7/14.6 s (T=8: 8 repair iters; others 0);
    * n=2e4 T=8/16/32 → 94.4/19.9/20.7 s (T=8 again 8 repairs — 4.7× the
    * T=16 floor). T=16 and T=32 tie at 1e4 and T=16 edges at 2e4 (kernel
    * shuffle volume T·n doubles for no repair win: 7 vs 13 MB): 8 is a
    * cliff and 32+ buys nothing. */
  val LapKernelT = 16

  /** Where [[lapAuctionDistributed]] keeps the auction state; `name` is
    * the `lap.tier.*` counter suffix. Same certified total in every tier. */
  sealed abstract class LapTier(val name: String)
  object LapTier {
    /** Gauss-Seidel on the driver over the collected kernel. */
    case object Driver extends LapTier("driver")
    /** The whole ε-schedule inside the one task holding the kernel. */
    case object Exec extends LapTier("exec")
    /** Every ε-phase as keyed DataFrame rounds; no node holds the kernel. */
    case object Keyed extends LapTier("keyed")
  }

  /** The tier of an n-row solve at kernel width T, by kernel rows n·(T+1)
    * (the only state any tier materializes):
    *   ≤ 1e5  → Driver: a collect of ≤ 1e5 rows is cheap and a bid costs
    *            ns (at n=2000, n·(T+1)=3.4e4, the driver solve beat the
    *            exec tier's fixed ~4-job latency by ~2×);
    *   ≤ 1e7  → Exec: one job instead of phases×rounds of them, while the
    *            kernel fits one executor partition;
    *   beyond → Keyed. */
  def lapTier(n: Long, topT: Int): LapTier = {
    val kernelRows = n * (topT + 1)
    if (kernelRows <= 100000L) LapTier.Driver
    else if (kernelRows <= 10000000L) LapTier.Exec
    else LapTier.Keyed
  }

  /** The ε-scaling schedule every tier runs: coarse phases from a quarter
    * of the cost range (costs < 1e6) down by 5× while above the final
    * ε = 1/(n+1), then the final phase at it. Integer costs and ε < 1/n
    * make an assignment in ε-CS over the full matrix exactly optimal. */
  private def lapEpsSchedule(n: Int): Seq[Double] = {
    val epsF = 1.0 / (n + 1)
    Iterator.iterate(1000000L / 4.0)(_ / 5.0).takeWhile(_ > epsF).toList :+ epsF
  }

  private type LapCandidates = Array[scala.collection.mutable.ArrayBuffer[(Int, Double)]]

  /** Each row's kernel columns (j, c), from (i, j, c) kernel rows. */
  private def lapCandidates(n: Int, kernel: Iterator[org.apache.spark.sql.Row]): LapCandidates = {
    val cand = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[(Int, Double)])
    kernel.foreach(r => cand(r.getLong(0).toInt) += ((r.getLong(1).toInt, r.getDouble(2))))
    cand
  }

  /** The Gauss-Seidel auction over the kernel (maximize Σ −c): one pass per
    * ε of `schedule`, each from an empty assignment, raising `prices` in
    * place so every pass starts warm. Returns row → column. The driver
    * tier and its repair passes run it on the driver, the exec tier inside
    * its one task. */
  private def lapAuction(cand: LapCandidates, prices: Array[Double],
      schedule: Seq[Double]): Array[Int] = {
    val n = cand.length
    var assigned = Array.emptyIntArray
    schedule.foreach { eps =>
      assigned = Array.fill(n)(-1)
      val owner = Array.fill(n)(-1)
      val queue = scala.collection.mutable.Queue(0 until n: _*)
      while (queue.nonEmpty) {
        val i = queue.dequeue()
        if (assigned(i) < 0) {
          var bestJ = -1; var w1 = Double.NegativeInfinity; var w2 = Double.NegativeInfinity
          cand(i).foreach { case (j, c) =>
            val v = -c - prices(j)
            if (v > w1) { w2 = w1; w1 = v; bestJ = j } else if (v > w2) w2 = v
          }
          // the kernel's diagonal gives every row a candidate; a
          // kernel-construction regression must surface as a clear error,
          // not an opaque AIOOBE (ADVICE r13)
          require(bestJ >= 0, s"auction: row $i has no kernel candidate")
          val bid = if (w2 == Double.NegativeInfinity) eps else w1 - w2 + eps
          prices(bestJ) += bid
          val prev = owner(bestJ)
          if (prev >= 0) { assigned(prev) = -1; queue.enqueue(prev) }
          owner(bestJ) = i; assigned(i) = bestJ
        }
      }
    }
    assigned
  }

  /** Distributed LAP: kernelized auction with a distributed optimality
    * certificate — the scale-out form of the reference's device auction/
    * Hungarian (solver/linear_assignment.cuh:60). The n×n cost matrix is
    * only ever touched by distributed passes:
    *   1. kernel pass — per-row top-T cheapest columns (select_k shape:
    *      generator + per-row bounded heap, one shuffle on i);
    *   2. the ε-scaling auction over the O(n·T) kernel, with its state in
    *      the tier [[lapTier]] picks (`tier` overrides it for tests and
    *      probes): the driver, one executor task, or keyed DataFrames;
    *   3. certificate — per-row best profit max_j(−c_ij − p_j) over the
    *      FULL matrix, bounded from the kernel so only suspect rows pay an
    *      exact re-scan. Rows violating ε-CS get their best column added
    *      to the kernel and the auction re-runs warm-started on the driver
    *      (column-generation style); typically 0-2 repairs.
    * Costs are integers (hash mod 1e6) and ε < 1/n, so ε-CS over the full
    * matrix certifies the assignment total is EXACTLY the optimum, in
    * every tier. Cost matrix here is expression-generated for the fixture;
    * a stored (i, j, cost) table drops in unchanged. Counts its tier as
    * `lap.tier.driver|exec|keyed`.
    */
  def lapAuctionDistributed(spark: SparkSession, n: Int, topT: Int = LapKernelT,
      maxRepair: Int = 8, costExpr: Option[Column] = None,
      tier: Option[LapTier] = None): DataFrame = {
    val lapT = tier.getOrElse(lapTier(n, topT))
    graft.Instrument.inc(s"lap.tier.${lapT.name}")
    val nTKernel = n.toLong * (topT + 1)
    // The solve is a multi-job chain of fixed shapes (graft.LoopPolicy),
    // sized by the kernel (post-aggregate rows are n·T, never n²); the n²
    // generator scan keeps its full input parallelism, only the exchange
    // width shrinks.
    graft.LoopPolicy.scope(spark, Some(nTKernel), stepped = false) { _ =>
    val costM = 1000000L
    // costExpr: any integer-valued expression over (i, j) — a stored
    // (i, j, cost) table drops in the same way. Default = the hash fixture.
    def cCol = costExpr.getOrElse(pmod(graft.operators.TextOps.h32(
      concat_ws(":", col("i"), col("j"), lit("lap"))), lit(costM))).cast("double")
    // flat range + div/mod, NOT per-row explode(sequence(n)): the explode
    // form materializes an n-element array per row (80 KB at n=1e4) before
    // iterating it; the flat form is a pure codegen'd range scan. Row i
    // still lands contiguously, so TopKAgg's map-side partials stay ~one
    // entry per (row, partition). DIV is integer division (a double `/`
    // mis-rounds past 2^53-ish ids).
    def fullCosts = spark.range(n.toLong * n)
      .select(expr(s"id div $n").as("i"), pmod(col("id"), lit(n.toLong)).as("j"))
      .select(col("i"), col("j"), cCol.as("c"))
    // 1. distributed kernel: T cheapest columns per row, PLUS the diagonal —
    // the kernel must contain a perfect matching or the auction cannot
    // terminate; the identity guarantees one regardless of topT.
    // Top-T via the bounded-heap TopKAgg, not a rank window: the window
    // form shuffles+sorts all n² rows (the `|| i === j` disjunct also
    // defeats WindowGroupLimit pushdown entirely — measured 39 s vs 0.7 s
    // on the n=5000 kernel); the aggregate folds k-entry partials map-side
    // where the generator produces the rows, and the diagonal is generated
    // directly (n rows) instead of filtered out of n².
    val topk = fullCosts.groupBy(col("i"))
      .agg(graft.functions.TopKAgg.topKMin(col("c"), col("j"), topT).as("top"))
      .select(col("i"), explode(graft.functions.TopKAgg.decodeTopK(col("top"))).as("e"))
      .select(col("i"), col("e.j").as("j"), col("e.c").as("c"))
    val diagRows = spark.range(n)
      .select(col("id").as("i"), col("id").as("j"))
      .select(col("i"), col("j"), cCol.as("c"))
    val tKern0 = System.nanoTime()
    val kernelDf = topk.unionByName(diagRows)
      .dropDuplicates("i", "j").localCheckpoint(true) // eager: times the n² kernel scan
    graft.Instrument.inc("lap.ms_kernel", (System.nanoTime() - tKern0) / 1000000L)
    val schedule = lapEpsSchedule(n)
    val epsF = schedule.last
    graft.Instrument.inc("lap.phases", schedule.length.toLong)
    // LAZY: the exec and keyed tiers never collect the kernel unless their
    // state fails the certificate and the driver repair loop takes over
    lazy val cand = lapCandidates(n, kernelDf.collect().iterator)
    val prices = new Array[Double](n)
    var assigned = Array.emptyIntArray
    val tAuction0 = System.nanoTime()
    val state: Option[(DataFrame, Long)] = lapT match {
      case LapTier.Driver => assigned = lapAuction(cand, prices, schedule); None
      case LapTier.Exec => Some((lapExecState(spark, kernelDf, n, schedule), 0L))
      case LapTier.Keyed => Some(lapKeyedState(spark, kernelDf, n, schedule))
    }
    graft.Instrument.inc("lap.ms_auction", (System.nanoTime() - tAuction0) / 1000000L)
    // The exec and keyed tiers certify against their state table, so
    // prices/assignments never come back to the driver (VERDICT r9 item 3);
    // the driver sees a violation COUNT. Only the pathological branch
    // (round cap tripped, or ε-CS violations at the state's fixed point)
    // pulls state back once and finishes with the driver repair loop —
    // instrumented so the bench artifact shows whether a run ever took it.
    val stateSummary = state.flatMap { case (st, unassigned) =>
      val out =
        if (unassigned == 0L) lapCertifyKeyed(spark, fullCosts, cCol, st, kernelDf, epsF, n)
        else None
      if (out.isEmpty) {
        graft.Instrument.inc("lap.keyed_fallbacks")
        val aOut = Array.fill(n)(-1)
        st.collect().foreach { r =>
          val j = r.getLong(0).toInt
          prices(j) = r.getDouble(1)
          if (r.getLong(2) >= 0) aOut(r.getLong(2).toInt) = j
        }
        // if the round cap tripped, finish the stragglers driver-side
        assigned = if (aOut.contains(-1)) lapAuction(cand, prices, Seq(epsF)) else aOut
      }
      unpersistCheckpoint(st)
      out
    }
    val summary = stateSummary.getOrElse {
    // 2.-3. driver certificate / repair loop. Key cost control (VERDICT r8
    // item 2): auction prices are MONOTONE NON-DECREASING, so a row's
    // full-matrix best profit max_j(−c_ij − p_j) can only FALL between
    // passes — the first scan's per-row best is a standing upper bound.
    // After each repair the ε-CS check runs driver-side against that
    // bound (O(n), no job); only rows whose BOUND violates re-scan, and
    // the re-scan generates |violators|·n entries, not n². Prices join
    // the scan as a broadcast (j, p) table, as in [[lapCertifyKeyed]].
    def bestProfit(rowSubset: Option[Seq[Int]]) = {
      // falsifiable cost model (VERDICT r9 item 1): record whether this
      // pass is the one full n² scan or a thin violator re-scan, and how
      // many matrix entries it actually generates
      rowSubset match {
        case Some(rows) =>
          graft.Instrument.inc("lap.certificate_row_rescans")
          graft.Instrument.inc("lap.certificate_entries", rows.length.toLong * n)
        case None =>
          graft.Instrument.inc("lap.certificate_full_scans")
          graft.Instrument.inc("lap.certificate_entries", n.toLong * n)
      }
      val costs = rowSubset match {
        case Some(rows) =>
          val rowsDf = spark.createDataFrame(rows.map(i => Tuple1(i.toLong))).toDF("i")
          rowsDf.select(col("i"), explode(sequence(lit(0L), lit(n - 1L))).as("j"))
            .select(col("i"), col("j"), cCol.as("c"))
        case None => fullCosts
      }
      val pricesDf = spark.createDataFrame(
        prices.toSeq.zipWithIndex.map { case (p, j) => (j.toLong, p) }).toDF("j", "p")
      costs.join(broadcast(pricesDf), Seq("j"))
        .select(col("i"), struct((-col("c") - col("p")).as("v"), col("j"), col("c")).as("s"))
        .groupBy(col("i")).agg(max(col("s")).as("m"))
        .select(col("i"), col("m.v").as("v"), col("m.j").as("j"), col("m.c").as("c"))
        .collect()
    }
    val bound = Array.fill(n)(Double.PositiveInfinity)
    // SUB-QUADRATIC certificate (VERDICT r10 item 1), driver form: the
    // kernel's off-diagonal entries are a subset of row i's true top-T
    // cheapest columns, so cap_i = max over them is ≤ the T-th cheapest
    // cost, and every NON-kernel column costs ≥ cap_i. With prices ≥
    // pMin, the full-matrix best profit is bounded by
    // max(bestKernel_i, −cap_i − pMin) — an O(n·T) computation over the
    // ALREADY-COLLECTED kernel, zero Spark jobs. Only rows whose
    // conservative bound violates ε-CS pay a distributed row re-scan;
    // the typical run now certifies with NO n² pass at all. capLocal is
    // frozen before repairs grow `cand` (added columns aren't top-T
    // members, so they may not raise the cap — but they DO tighten
    // bestKernel below). Reference contract: dual-feasibility check,
    // solver/detail/lap_functions.cuh.
    val capLocal: Array[Double] = {
      val caps = Array.fill(n)(Double.NegativeInfinity)
      var i = 0
      while (i < n) {
        cand(i).foreach { case (j, c) => if (j != i && c > caps(i)) caps(i) = c }
        i += 1
      }
      caps
    }
    var it = 0; var certified = false
    while (!certified && it < maxRepair) {
      val costOf = cand.map(_.toMap)
      def profit(i: Int): Double = -costOf(i)(assigned(i)) - prices(assigned(i))
      // refresh the kernel-derived bound at CURRENT prices (prices only
      // rise, so the true best only falls — min with any exact best from
      // a previous distributed scan stays a valid upper bound)
      val pMinLoc = { var m = prices(0); var j = 1; while (j < n) { if (prices(j) < m) m = prices(j); j += 1 }; m }
      var bi = 0
      while (bi < n) {
        var bk = Double.NegativeInfinity
        cand(bi).foreach { case (j, c) => val v = -c - prices(j); if (v > bk) bk = v }
        val b = math.max(bk, -capLocal(bi) - pMinLoc)
        if (b < bound(bi)) bound(bi) = b
        bi += 1
      }
      val needScan = (0 until n).filter(i => bound(i) - profit(i) > epsF + 1e-9)
      if (needScan.isEmpty) certified = true
      else {
        val best = bestProfit(if (needScan.length == n) None else Some(needScan))
        var violations = 0
        best.foreach { r =>
          val i = r.getLong(0).toInt
          bound(i) = r.getDouble(1) // fresh exact best at current prices
          if (r.getDouble(1) - profit(i) > epsF + 1e-9) {
            violations += 1
            val (js, cs) = (r.getLong(2).toInt, r.getDouble(3))
            if (!costOf(i).contains(js)) cand(i) += ((js, cs))
          }
        }
        if (violations == 0) certified = true
        else { graft.Instrument.inc("lap.repair_iters"); assigned = lapAuction(cand, prices, Seq(epsF)) }
      }
      it += 1
    }
    val costOf = cand.map(_.toMap)
    val total = (0 until n).map(i => costOf(i)(assigned(i)).toLong).sum
    val nAssigned = assigned.distinct.length.toLong
    spark.createDataFrame(Seq((nAssigned, total))).toDF("n_assigned", "total_cost")
    } // stateSummary.getOrElse
    // after the last `cand` use, so the kernel's lifetime never depends on
    // which branch ran (ADVICE r10)
    unpersistCheckpoint(kernelDf)
    summary
    } // LoopPolicy.scope
  }

  /** The exec tier's auction (VERDICT r12 item 5): the keyed tier's
    * deployment cost is a per-ROUND Spark-job latency that no cluster size
    * shrinks (×2.8 multi-JVM). This takes the block-Lanczos lever — fewer,
    * fatter round-trips — to its fixed point: the ENTIRE ε-schedule (every
    * phase, every Gauss-Seidel round) runs inside the ONE task that holds
    * the coalesced O(n·T) kernel, so one Spark job replaces phases×rounds
    * of them, the kernel is never collected and no price array exists on
    * the driver. Returns the (j, p, owner i) state table
    * [[lapCertifyKeyed]] consumes. */
  private def lapExecState(spark: SparkSession, kernelDf: DataFrame, n: Int,
      schedule: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val stateRdd = kernelDf.coalesce(1).rdd.mapPartitions { rows =>
      val prices = new Array[Double](n)
      val assigned = SolverOps.lapAuction(SolverOps.lapCandidates(n, rows), prices, schedule)
      val owner = Array.fill(n)(-1L)
      var i = 0
      while (i < n) { owner(assigned(i)) = i.toLong; i += 1 }
      Iterator.tabulate(n)(j => org.apache.spark.sql.Row(j.toLong, prices(j), owner(j)))
    }
    spark.createDataFrame(stateRdd, StructType(Seq(
      StructField("j", LongType, nullable = false),
      StructField("p", DoubleType, nullable = false),
      StructField("i", LongType, nullable = false)))).localCheckpoint(true)
  }

  /** The keyed tier's auction (VERDICT r9 item 6): every ε-phase runs as
    * [[lapKeyedPhaseDf]] rounds and phase k+1's warm prices are a
    * PROJECTION of phase k's state table — the kernel is never collected
    * and no price array exists. A coarse phase that trips its round cap is
    * fine: its (monotone) prices are still a valid warm start; only the
    * final phase must fully assign. Returns (state (j, p, owner i or −1),
    * #unassigned after the final phase). */
  private def lapKeyedState(spark: SparkSession, kernelDf: DataFrame, n: Int,
      schedule: Seq[Double]): (DataFrame, Long) = {
    // the phase-local kernel and row set, materialized ONCE for all
    // ε-phases (ADVICE r10). Rounds are latency-bound, not volume-bound:
    // below ~1e4 kernel rows per-stage task overhead dominates, so the
    // kernel collapses to one partition (a cluster-size n keeps its
    // natural partitioning).
    val kern = (if (n <= 10000) kernelDf.coalesce(1) else kernelDf).localCheckpoint(true)
    val allI = spark.range(0, n, 1, math.max(1, n / 10000))
      .select(col("id").as("i")).localCheckpoint(true)
    var prices = spark.range(n).select(col("id").as("j"), lit(0.0).as("p"))
    var state: DataFrame = null
    var unassigned = 0L
    schedule.foreach { eps =>
      val (st, un, rounds) = lapKeyedPhaseDf(kern, allI, prices, eps, n)
      graft.Instrument.inc("lap.keyed_rounds", rounds.toLong)
      if (state != null) unpersistCheckpoint(state)
      state = st
      unassigned = un
      prices = st.select(col("j"), col("p"))
    }
    unpersistCheckpoint(kern)
    unpersistCheckpoint(allI)
    (state, unassigned)
  }

  /** Distributed ε-CS certificate that CONSUMES the keyed auction state
    * table — no price array ever reaches the driver (VERDICT r9 item 3;
    * the reference keeps the same state device-side,
    * solver/detail/lap_functions.cuh). SUB-QUADRATIC (VERDICT r10 item 1):
    * the kernel is each row's T cheapest columns, so every NON-kernel
    * column of row i costs at least cap_i = max cost among row i's
    * off-diagonal kernel entries (a subset of the true top-T, hence
    * ≤ the T-th cheapest — conservative, never unsound). With all prices
    * ≥ pMin, the full-matrix best profit obeys
    *   max_j(−c_ij − p_j) ≤ max( max_{j∈K_i}(−c_ij − p_j), −cap_i − pMin )
    * which is an O(n·T) kernel scan instead of the Θ(n²) generated pass.
    * Rows certified by the bound are PROVABLY ε-CS; only rows whose
    * conservative bound still violates pay an exact row re-scan
    * (|suspects|·n generated entries) — the n² pass exists only as the
    * degenerate all-rows-suspect case. With integer costs and ε < 1/n the
    * certified assignment total is EXACTLY the optimum, same argument as
    * the driver-side loop. Returns Some(1-row summary
    * (n_assigned, total_cost)) iff every row satisfies ε-CS; None ⇒ caller
    * takes the repair path. Reference contract: the dual-feasibility check
    * in solver/detail/lap_functions.cuh.
    */
  private def lapCertifyKeyed(spark: SparkSession, fullCosts: DataFrame,
      cCol: Column, state: DataFrame, kernelDf: DataFrame,
      eps: Double, n: Int): Option[DataFrame] = {
    val tCert0 = System.nanoTime()
    val priceDf = state.select(col("j"), col("p"))
    val profits = state.where(col("i") >= 0)
      .select(col("i"), col("j"), col("p"))
      .withColumn("c", cCol)
      .select(col("i"), col("j"), col("c"), (-col("c") - col("p")).as("profit"))
      .localCheckpoint(true) // feeds the bound join, any re-scan, and the summary
    // O(n·T) bound pass over the (checkpointed) kernel — prices broadcast
    val pMin = priceDf.agg(min(col("p"))).head().getDouble(0)
    val capDf = kernelDf.where(col("i") =!= col("j"))
      .groupBy(col("i")).agg(max(col("c")).as("cap"))
    // SOUNDNESS (ADVICE r11): capDf/boundDf joins must never DROP a row —
    // a row with no off-diagonal kernel entry (topT=1, or a degenerate
    // kernel) has no conservative cap, so its bound is +inf and it MUST
    // take the exact re-scan; an inner join here would silently certify
    // it. Left-join with +inf defaults, anchored on profits (every
    // assigned row) so a row absent from the kernel entirely still
    // surfaces as a suspect.
    val boundDf = kernelDf.join(broadcast(priceDf), Seq("j"))
      .groupBy(col("i")).agg(max(-col("c") - col("p")).as("bk"))
      .join(capDf, Seq("i"), "left")
      .select(col("i"), greatest(col("bk"),
        -coalesce(col("cap"), lit(Double.NegativeInfinity)) - lit(pMin)).as("bound"))
    graft.Instrument.inc("lap.certificate_kernel_scans")
    graft.Instrument.inc("lap.certificate_entries", kernelDf.count())
    val suspects = profits.select(col("i"), col("profit"))
      .join(boundDf, Seq("i"), "left")
      .where(coalesce(col("bound"), lit(Double.PositiveInfinity)) - col("profit") > eps + 1e-9)
      .select(col("i")).collect().map(_.getLong(0))
    graft.Instrument.inc("lap.certificate_suspect_rows", suspects.length.toLong)
    val violations =
      if (suspects.isEmpty) 0L
      else {
        graft.Instrument.inc("lap.certificate_entries", suspects.length.toLong * n)
        val sCosts =
          if (suspects.length >= n) { graft.Instrument.inc("lap.certificate_full_scans"); fullCosts }
          else {
            graft.Instrument.inc("lap.certificate_row_rescans")
            spark.createDataFrame(suspects.toSeq.map(Tuple1(_))).toDF("i")
              .select(col("i"), explode(sequence(lit(0L), lit(n - 1L))).as("j"))
              .select(col("i"), col("j"), cCol.as("c"))
          }
        val bestExact = sCosts.join(broadcast(priceDf), Seq("j"))
          .select(col("i"), (-col("c") - col("p")).as("v"))
          .groupBy(col("i")).agg(max(col("v")).as("v"))
        bestExact.join(profits.select(col("i"), col("profit")), Seq("i"))
          .where(col("v") - col("profit") > eps + 1e-9).count()
      }
    val out = if (violations > 0) {
      graft.Instrument.inc("lap.certificate_violations", violations)
      None
    } else {
      val Array(s) = profits
        .agg(countDistinct(col("j")).as("n_assigned"),
          sum(col("c").cast("long")).as("total_cost")).collect()
      Some(spark.createDataFrame(Seq((s.getLong(0), s.getLong(1))))
        .toDF("n_assigned", "total_cost"))
    }
    unpersistCheckpoint(profits)
    graft.Instrument.inc("lap.ms_certificate", (System.nanoTime() - tCert0) / 1000000L)
    out
  }

  /** One auction ε-phase with DISTRIBUTED state — the Jacobi (all-at-once)
    * form of [[lapAuction]]'s Gauss-Seidel loop, run by the keyed tier
    * (VERDICT r8 item 6; reference keeps the same state device-side,
    * solver/detail/lap_functions.cuh). Per round, entirely as keyed
    * DataFrame ops over the O(n·T) kernel `kern`:
    *
    *  - bids: unassigned rows (one anti-join against the row set `allI`)
    *    score every kernel column at current prices; per-row best/second-
    *    best via the bounded-heap TopKAgg (map-side partials, no window
    *    sort); bid = w1 − w2 + ε;
    *  - winners: per-column max_by(bid) — one keyed aggregate;
    *  - state update: ONE left join rewriting the column-keyed (j, price,
    *    owner) table — price += winning bid, owner := winner; eviction is
    *    implicit (the re-won column's old owner falls out of the owners
    *    set). n rows, eagerly checkpointed so round lineage stays O(1).
    *
    * The parallel-bid variant preserves ε-CS (a winner's post-increment
    * value is w2 − ε ≥ every alternative − ε, and other prices only rise),
    * so the phase composes with the ε-scaling warm start (`prices0Df`, a
    * (j, p) table) and the full-matrix certificate exactly like the driver
    * phase. Returns (state (j, price, owner i or −1), #unassigned, rounds
    * run); #unassigned > 0 means the safety round-cap tripped.
    */
  private def lapKeyedPhaseDf(kern: DataFrame, allI: DataFrame,
      prices0Df: DataFrame, eps: Double, n: Int): (DataFrame, Long, Int) = {
    import graft.functions.TopKAgg
    // ONE state table, keyed by column: (j, price, owning row or −1).
    // Column-keyed state makes eviction implicit — a re-won column simply
    // overwrites its owner, and the old owner drops out of the owners set
    // — so each round is exactly one keyed state rewrite (plus a count on
    // the already-materialized checkpoint for the termination test).
    var state = prices0Df.select(col("j"), col("p"), lit(-1L).as("i"))
      .localCheckpoint(true)
    // the rounds are micro-jobs over checkpointed inputs with explicit
    // broadcasts, run inside lapAuctionDistributed's LoopPolicy scope (AQE
    // off: its per-shuffle re-plan measured ~1.3 s/round against ~0.6 s
    // without at n=1e4)
    var unassigned = n.toLong
    var round = 0
    // every per-round side table is O(n) single-column rows — broadcast
    // them EXPLICITLY (with AQE off, nothing converts them at runtime);
    // past ~5e6 rows a broadcast stops being free, so fall back to plain
    // keyed joins there (state is consistently hash-partitioned on its
    // key, so those co-partition after the first round)
    val bcast: DataFrame => DataFrame =
      if (n <= 5000000) df => broadcast(df) else identity
    while (unassigned > 0 && round < 300) { // the safety round cap
      val unI = allI
        .join(bcast(state.where(col("i") >= 0).select(col("i"))), Seq("i"), "left_anti")
      val bids = kern.join(bcast(unI), Seq("i"))
        .join(broadcast(state.select(col("j"), col("p"))), Seq("j"))
        .select(col("i"), col("j"), (col("c") + col("p")).as("negv"))
        .groupBy(col("i"))
        .agg(TopKAgg.topKMin(col("negv"), col("j"), 2).as("t2"))
        .select(col("i"), TopKAgg.decodeTopK(col("t2")).as("t"))
        .select(col("i"), element_at(col("t"), 1).getField("j").as("j"),
          when(size(col("t")) < 2, lit(eps))
            .otherwise(element_at(col("t"), 2).getField("c")
              - element_at(col("t"), 1).getField("c") + eps).as("bid"))
      val winners = bids.groupBy(col("j"))
        .agg(max(struct(col("bid"), col("i"))).as("w"))
        .select(col("j"), col("w.i").as("wi"), col("w.bid").as("bid"))
      val prev = state
      state = state.join(bcast(winners), Seq("j"), "left")
        .select(col("j"),
          (col("p") + coalesce(col("bid"), lit(0.0))).as("p"),
          coalesce(col("wi"), col("i")).as("i"))
        .localCheckpoint(true)
      // the new checkpoint is eager and lineage-free, so the previous
      // round's blocks are dead — free them now instead of accumulating
      // one cached RDD per round for the whole phase (ADVICE r9)
      unpersistCheckpoint(prev)
      unassigned = n - state.where(col("i") >= 0).count()
      round += 1
    }
    (state, unassigned, round)
  }

  /** Two-pass randomized SVD of a sparse COO matrix — reference:
    * sparse/solver/randomized_svds.cuh (svds.pyx:73). Unlike the dense-Gram
    * rsvd above, A is never densified and no d×d Gram is formed:
    *   Y = A·Ω   — spmm with a hash-gaussian Ω (expression, l columns);
    *   one power iteration Z = AᵀY, Y₂ = A·Z;
    *   the l×l sketch Gram G = Y₂ᵀY₂ (one gramSum aggregate);
    *   M = Y₂ᵀA stays distributed, and only S = M·Mᵀ (l×l) is collected;
    *   σ(A) ≈ σ(QᵀA) from G and S, Q = Y₂·W the eig-whitened sketch.
    * The four products are the sparse × dense core of [[SparseOps]] over
    * one [[SparseOps.rowSorted]] edge table, in the CSR form of the
    * reference: A·Ω and A·Z are map-only sort aggregates over the edges
    * with Ω / Z broadcast, and AᵀY, AᵀY₂ merge-join the row-sorted
    * products with no exchange before one small exchange of d-vector
    * partials keyed on the column.
    */
  def rsvdSparse(coo: DataFrame, k: Int, p: Int = 5, seed: Long = 7,
      colDomain: Option[DataFrame] = None, knownNnz: Long = -1L): Seq[Double] = {
    import breeze.linalg.DenseMatrix
    import graft.functions.VectorAgg
    val l = k + p
    // The 4 spmm passes + 2 Gram aggregates are a fixed-shape chain run
    // once per call, whose exchanges carry ≤ nnz rows (graft.LoopPolicy;
    // not stepped, so codegen stays as the caller has it: each generated
    // class compiles once per call). knownNnz ≥ 0 skips the sizing count()
    // (VERDICT r14 item 10 — callers with a dimension-known fixture thread
    // it; the width only needs the order of magnitude, but an exact count
    // is free when the caller has one).
    val nnz = if (knownNnz >= 0L) knownNnz else coo.count()
    graft.LoopPolicy.scope(coo.sparkSession, Some(nnz), stepped = false) { parts =>
    val edges = SparseOps.rowSorted(coo, parts)
    // Ω materialized per distinct column (l hash-gaussians per COLUMN, not
    // per nnz) → Y = AΩ is a plain spmm join. Draws use the xxhash64-based
    // fast gaussian: Ω is never oracle-compared, only its distribution
    // matters, and xxhash64 is ~20× cheaper than the md5 counter hash.
    // colDomain, when the caller has a dimension table for the column space
    // (here: the part table), avoids the distinct-shuffle over the nnz
    // entirely; extra ids are harmless (they match no edges).
    val cols = colDomain.getOrElse(edges.select(col("col").as("id")).distinct())
    val omega = cols.select(col("id"),
      array((0 until l).map(t => RandomOps.normalFast(col("id"), seed, s"w$t")): _*).as("v"))
    // one count sizes both A·X passes: Z = AᵀY has at most one row per column
    val nCols = cols.count()
    val y = SparseOps.spmmA(edges, omega, nCols, l)
    // one power iteration: Z = AᵀY, Y₂ = AZ (each consumed once — lineage
    // stays a straight chain, no checkpoint needed)
    val z = SparseOps.spmmAt(edges, y)
    // Y₂ reused by two aggregates below → checkpoint once (lazy: the first
    // aggregate's job materializes it; the checkpoint keeps Y₂'s row
    // partitioning and order, so AᵀY₂ still merge-joins without exchange)
    val y2 = SparseOps.spmmA(edges, z, nCols, l).localCheckpoint(false)
    // the l×l sketch Gram G = Y₂ᵀY₂ = Σ_row y·yᵀ: ONE gramSum aggregate
    // (row-major outer products folded into a primitive buffer) instead of
    // an RDD TSQR pass
    val g = y2.agg(VectorAgg.gramSum(col("v")).as("g")).head().getSeq[Double](0)
    val gMat = new DenseMatrix(l, l, g.toArray) // symmetric: majorness moot
    // M = Y₂ᵀA stays DISTRIBUTED: σ(B) with B = QᵀA needs only the l×l
    // S = M·Mᵀ = Σ_col m_col·m_colᵀ — one more gramSum over the M rows.
    // Nothing collected ever scales with #cols (the round-3 form collected
    // the l×#cols M — ~800 MB at 10 M columns).
    val s = SparseOps.spmmAt(edges, y2)
      .agg(VectorAgg.gramSum(col("v")).as("g")).head().getSeq[Double](0)
    val sMat = new DenseMatrix(l, l, s.toArray)
    // Orthonormalize the sketch by eig-whitening instead of Cholesky:
    // G = UDUᵀ ⇒ W = U·D^(−1/2) on the eigenpairs above tol, and
    // Q = Y₂W is exactly orthonormal even when rank(A) < l (a rank-r input
    // makes G singular and Cholesky/triangular solves blow up — seen on the
    // closed-form rank-8 fixture). σ²(QᵀA) = eig(Wᵀ·S·W), an r×r local eig.
    // Precision note: going through the Gram squares the condition number —
    // σ below ~√ε·σ₁ (~1e-8 relative) is noise. That is inherent to a
    // sketch with l ≪ #cols anyway (trailing σ carry the projection error),
    // and the closed-form fixture oracle pins the leading σ.
    val esG = breeze.linalg.eigSym((gMat + gMat.t) / 2.0)
    val tol = math.max(esG.eigenvalues.toArray.max, 0.0) * 1e-10
    val keep = esG.eigenvalues.toArray.zipWithIndex.filter(_._1 > tol).map(_._2)
    val w = DenseMatrix.tabulate(l, keep.length)((i, c) =>
      esG.eigenvectors(i, keep(c)) / math.sqrt(esG.eigenvalues(keep(c))))
    val t = w.t * sMat * w
    breeze.linalg.eigSym((t + t.t) / 2.0).eigenvalues.toArray.sorted.reverse
      .take(k).map(e => math.sqrt(math.max(e, 0.0))).toSeq
    } // LoopPolicy.scope
  }

  /** Single-linkage hierarchical clustering: build the MST, cut the k−1
    * heaviest tree edges, label the resulting components — exactly the
    * reference's formulation (cluster/single_linkage.cuh:37: MST +
    * cut_tree). Self-loop union keeps isolated nodes labeled. Everything is
    * the already-distributed MST/CC machinery plus one global top-(k−1)
    * rank (k−1 rows — a TakeOrdered at scale, not a full sort).
    */
  def singleLinkage(edges: DataFrame, k: Int): DataFrame = {
    // the edge list is consumed three times (MST size probe, MST build,
    // node set) — materialize once so an expensive upstream (e.g. the
    // mutual-reachability pair join) isn't re-evaluated per consumer
    val e = edges.localCheckpoint(true)
    val mst = boruvkaMst(e).localCheckpoint(true)
    // top-(k−1) heaviest via sort+limit (TakeOrdered per-partition heaps)
    // then anti-join — a global rank WINDOW here would single-partition
    // the whole n−1-edge MST
    val heavy = mst.orderBy(col("value").desc, col("src").desc, col("dst").desc)
      .limit(k - 1).select(col("src"), col("dst"))
    val kept = mst.join(heavy, Seq("src", "dst"), "left_anti")
      .select(col("src"), col("dst"))
    val nodes = e.select(col("src").as("n"))
      .unionByName(e.select(col("dst").as("n"))).distinct()
    LabelOps.connectedComponents(
      kept.unionByName(nodes.select(col("n").as("src"), col("n").as("dst"))))
  }

  /** Borůvka minimum spanning forest over a COO edge list —
    * reference: sparse/solver/mst.cuh:38 (+ detail/mst_solver_inl.cuh).
    * Each round: every component picks its lightest outgoing edge
    * (min_by per component — one aggregation), components merge via the
    * pointer-jumping CC step. Ties broken by (weight, src, dst) — the
    * deterministic "alterated weights" idea of the reference.
    * O(log n) rounds, each a bounded set of joins/aggregations.
    */
  def boruvkaMst(edges: DataFrame, localThreshold: Long = 1000000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // size dispatch (kAuto heuristic): below ~1e6 edges the O(log n)
    // distributed rounds are pure job overhead — Kruskal on the driver with
    // the same (value, src, dst) tie-break produces the same forest.
    // Counts its branch as `mst.tier.local|distributed`.
    if (edges.count() <= localThreshold) {
      graft.Instrument.inc("mst.tier.local")
      val arr = edges.select(col("src").cast("long"), col("dst").cast("long"),
          col("value").cast("double")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._3, t._1, t._2))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      val chosen = arr.filter { case (s, d, _) =>
        parent.getOrElseUpdate(s, s); parent.getOrElseUpdate(d, d)
        val (rs, rd) = (find(s), find(d))
        if (rs != rd) { parent(math.max(rs, rd)) = math.min(rs, rd); true } else false
      }
      return spark.createDataFrame(chosen.toSeq.map { case (s, d, v) =>
        (s, d, BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) })
        .toDF("src", "dst", "value")
    }
    graft.Instrument.inc("mst.tier.distributed")
    var comp = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node")))
      .distinct().withColumn("comp", col("node")).localCheckpoint(true)
    val e = edges.select(col("src"), col("dst"), col("value")).localCheckpoint(true)
    var chosen = Seq.empty[(Long, Long, Double)].toDF("src", "dst", "value")
    var active = true
    var rounds = 0
    while (active && rounds < 25) {
      val labeled = e
        .join(comp.select(col("node").as("src"), col("comp").as("cs")), Seq("src"))
        .join(comp.select(col("node").as("dst"), col("comp").as("cd")), Seq("dst"))
        .where(col("cs") =!= col("cd"))
      if (labeled.isEmpty) { active = false }
      else {
        // lightest outgoing edge per component (both directions), ties by (value, src, dst)
        val out = labeled.select(col("cs").as("c"), col("src"), col("dst"), col("value"))
          .unionByName(labeled.select(col("cd").as("c"), col("src"), col("dst"), col("value")))
        val best = out.groupBy(col("c"))
          .agg(min(struct(col("value"), col("src"), col("dst"))).as("m"))
          .select(col("m.src").as("src"), col("m.dst").as("dst"), col("m.value").as("value"))
          .distinct()
        chosen = chosen.unionByName(best).localCheckpoint(true)
        // merge: union-find via CC on chosen edges
        comp = LabelOps.connectedComponents(
            chosen.select(col("src"), col("dst")))
          .localCheckpoint(true)
        rounds += 1
      }
    }
    chosen.select(col("src"), col("dst"), round(col("value"), 4).as("value"))
  }

  /** Logistic regression fit by Newton/IRLS — the GLM companion to
    * [[lstsq]] (same normal-equation machinery per iteration; reference:
    * linalg/lstsq.cuh:72 is the identity-link special case). Input
    * `data`: (vec ARRAY&lt;DOUBLE&gt; including any intercept column as a
    * leading 1.0, y DOUBLE ∈ {0,1}). Each iteration is ONE treeAggregate
    * accumulating the d×d weighted Hessian XᵀQX (q = p(1−p)) and the
    * d-gradient Xᵀ(p−y) with the current weights broadcast, then a local
    * d×d solve — the k-means driver-state shape: per-iteration driver
    * traffic is d²+d doubles, independent of row count, and the data pass
    * is map-side-combined and embarrassingly parallel. No regularization
    * (the reference lstsq is unregularized too); callers wanting ridge
    * add λ to the Hessian diagonal. */
  def logisticRegression(data: DataFrame, iters: Int): Array[Double] = {
    val rdd = data.select(col("vec"), col("y")).rdd
      .map(r => (r.getSeq[Double](0).toArray, r.getDouble(1)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val d = rdd.first()._1.length
      val w = new Array[Double](d)
      for (_ <- 1 to iters) {
        val bw = rdd.sparkContext.broadcast(w.clone())
        val acc = rdd.treeAggregate(new Array[Double](d * d + d))(
          seqOp = (a, xy) => {
            val x = xy._1; val y = xy._2
            var z = 0.0; var i = 0
            while (i < d) { z += bw.value(i) * x(i); i += 1 }
            val p = 1.0 / (1.0 + math.exp(-z))
            val q = p * (1.0 - p)
            i = 0
            while (i < d) {
              val qxi = q * x(i); var j = 0
              while (j < d) { a(i * d + j) += qxi * x(j); j += 1 }
              a(d * d + i) += (p - y) * x(i)
              i += 1
            }
            a
          },
          combOp = (a, b) => {
            var k = 0; while (k < a.length) { a(k) += b(k); k += 1 }; a
          })
        val h = new breeze.linalg.DenseMatrix(d, d, acc.take(d * d))
        val g = breeze.linalg.DenseVector(acc.drop(d * d))
        val delta = h \ g
        var i = 0
        while (i < d) { w(i) -= delta(i); i += 1 }
        bw.destroy()
      }
      w
    } finally rdd.unpersist(false)
  }

  /** Ridge regression (Tikhonov-regularized lstsq) by the normal
    * equations: solve (XᵀX + λI)w = Xᵀy with ONE treeAggregate
    * accumulating the d×d Gram and the d-vector Xᵀy (map-side combined,
    * driver traffic d²+d doubles independent of row count), then a local
    * d×d solve — the λ&gt;0 extension of [[lstsq]]'s normal-equation
    * method (reference linalg/lstsq.cuh:72 is λ=0). λ is NOT applied to
    * the intercept lane if the caller passes `freeIntercept=true` (lane 0
    * assumed to be the 1.0 intercept column, the usual convention). */
  def ridgeRegression(data: DataFrame, lambda: Double,
      freeIntercept: Boolean = true): Array[Double] = {
    val rdd = data.select(col("vec"), col("y")).rdd
      .map(r => (r.getSeq[Double](0).toArray, r.getDouble(1)))
    val d = rdd.first()._1.length
    val acc = rdd.treeAggregate(new Array[Double](d * d + d))(
      seqOp = (a, xy) => {
        val x = xy._1; val y = xy._2
        var i = 0
        while (i < d) {
          val xi = x(i); var j = 0
          while (j < d) { a(i * d + j) += xi * x(j); j += 1 }
          a(d * d + i) += xi * y
          i += 1
        }
        a
      },
      combOp = (a, b) => {
        var k = 0; while (k < a.length) { a(k) += b(k); k += 1 }; a
      })
    var i = if (freeIntercept) 1 else 0
    while (i < d) { acc(i * d + i) += lambda; i += 1 }
    val h = new breeze.linalg.DenseMatrix(d, d, acc.take(d * d))
    val g = breeze.linalg.DenseVector(acc.drop(d * d))
    (h \ g).toArray
  }

  /** Conjugate gradient on the SPD operator A = L + I (graph Laplacian
    * of the symmetrized simple edge set plus identity — strictly
    * positive-definite), solving A x = b. The Krylov companion of the
    * Lanczos eigensolver above, with the SAME distribution contract:
    * the state (x, r, p per node) lives in ONE keyed DataFrame that
    * never leaves the executors; each iteration is one join-aggregate
    * SpMV (neighbor sum keyed by node) plus two scalar dot-product
    * aggregates, so driver traffic per iteration is exactly two doubles
    * (α's numerator/denominator) + one (β's) regardless of n. Lineage is
    * cut per iteration (localCheckpoint) — swap for reliable checkpoint
    * on a real cluster. b is the counter-hash vector h32(i:cg)/1000 so
    * the fixture is replayable anywhere. */
  def conjugateGradient(edges: DataFrame, n: Long, iters: Int): DataFrame = {
    val spark = edges.sparkSession
    val e0 = edges.where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct()
    val und = e0.select(col("a").as("u"), col("b").as("v"))
      .unionByName(e0.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint(true)
    // a LoopPolicy scope sized by the edge set: at session width the
    // per-iteration join+aggregates schedule full task waves with AQE
    // replanning for a fixture-sized state table. LAZY checkpoints:
    // each is materialized by the dot-product aggregate that consumes it
    // (the eigshSharded trick), saving 3 dedicated jobs per iteration.
    graft.LoopPolicy.scope(spark, Some(math.max(n, und.count())), stepped = true) { _ =>
    val deg = und.groupBy(col("u").as("i")).agg(count(lit(1)).as("dg"))
    val bv = (pmod(TextOps.h32(concat_ws(":", col("i"), lit("cg"))),
      lit(1000L)).cast("double") / 1000.0).as("bv")
    var st = spark.range(n).select(col("id").as("i"))
      .join(deg, Seq("i"), "left")
      .select(col("i"), coalesce(col("dg"), lit(0L)).as("dg"), bv)
      .select(col("i"), col("dg"), lit(0.0).as("x"),
        col("bv").as("r"), col("bv").as("p"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val nb = und.join(st.select(col("i").as("v"), col("p").as("pv")), Seq("v"))
        .groupBy(col("u").as("i")).agg(sum(col("pv")).as("sp"))
      val withAp = st.join(nb, Seq("i"), "left")
        .withColumn("ap", (col("dg") + 1L).cast("double") * col("p")
          - coalesce(col("sp"), lit(0.0)))
        .drop("sp").localCheckpoint(false)
      val s = withAp.agg(sum(col("r") * col("r")).as("rr"),
        sum(col("p") * col("ap")).as("pap")).head()
      val rr = s.getDouble(0)
      val alpha = rr / s.getDouble(1)
      val upd = withAp
        .withColumn("x", col("x") + lit(alpha) * col("p"))
        .withColumn("r", col("r") - lit(alpha) * col("ap"))
        .drop("ap").localCheckpoint(false)
      val rr2 = upd.agg(sum(col("r") * col("r"))).head().getDouble(0)
      val beta = rr2 / rr
      st = upd.withColumn("p", col("r") + lit(beta) * col("p"))
        .localCheckpoint(false)
    }
    st.select(col("i"), (round(col("x"), 6) + 0.0).as("x"))
      .localCheckpoint(true)
    }
  }
}
