package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.SolverOps

/** Factorization/solver queries (SURVEY.md §2.8).
  *
  * Evidence policy (round 4): every factorization runs on a constructed
  * fixture whose spectrum is CLOSED FORM, so the driver's DuckDB compare is
  * a real oracle — the `solver_eigsh_sharded` pattern generalized. The same
  * operators still run against the real embeddings/COO tables in
  * SolverSpec/Solver2Spec (vs Breeze), so fixture queries add evidence
  * without removing real-data coverage.
  *
  * The dense fixture is a 256×8 Walsh design: a_ij = (j+1)·(−1)^popcount(i
  * AND (j+1)). Columns are exactly orthogonal with exact zero means, so
  * AᵀA = diag(256·(j+1)²) in EXACT double arithmetic (integer-valued
  * entries): σ_j = 16·(j+1), R = diag(16·(j+1)), covariance eigenvalues
  * ∝ (j+1)², PCA components = signed standard basis — all hash-checkable.
  */
object SolverQueries extends QueryGroup {

  private def walshFixture(s: SparkSession): DataFrame =
    s.range(256).select(col("id"),
      transform(sequence(lit(0), lit(7)), j =>
        (lit(1.0) - lit(2.0) * pmod(
          bit_count(col("id").bitwiseAND((j + lit(1)).cast("long"))).cast("long"),
          lit(2L)).cast("double")) * (j.cast("double") + lit(1.0))).as("vec"))

  /** Rank-8 sparse fixture: 200k nnz, one per row, col = id mod 8,
    * v = ((id·37 mod 101)+1)/10. Rank ≤ l ⇒ the two-pass Halko sketch is
    * EXACT (range(Q) ⊇ range(A)); σ_j = √Σ_{i≡j(8)} v_i² is one SQL
    * aggregate. Big enough that the 4 spmm passes do real distributed work.
    */
  private[graft] def rsvdSparseFixture(s: SparkSession): DataFrame =
    s.range(200000).select(col("id").as("row"),
      pmod(col("id"), lit(8L)).as("col"),
      ((pmod(col("id") * 37, lit(101)) + 1).cast("double") / 10.0).as("value"))

  /** Noiseless regression fixture: y = Σ_j x_j·(j+1) exactly, x_j hash
    * uniform in (−1,1) — the normal-equation solve must recover coefficient
    * j+1 to 6 decimals (residual is exactly 0, design is well-conditioned).
    */
  private def lstsqFixture(s: SparkSession): DataFrame = {
    val xs = (0 until 8).map(j =>
      graft.operators.RandomOps.uniform(col("id"), 21L, s"x$j", -1.0, 1.0))
    s.range(500).select(array(xs: _*).as("vec"),
      xs.zipWithIndex.map { case (c, j) => c * lit(j + 1.0) }.reduce(_ + _).as("y"))
  }

  /** Chain 0-1-...-99 (w=1) plus heavy shortcut edges the MST must reject. */
  private def mstFixture(s: SparkSession): DataFrame = {
    val chain = s.range(99).select(col("id").as("src"), (col("id") + 1).as("dst"),
      lit(1.0).as("value"))
    val heavy = s.range(100).select(
      least(col("id"), pmod(col("id") + 37, lit(100))).as("src"),
      greatest(col("id"), pmod(col("id") + 37, lit(100))).as("dst"),
      (lit(10.0) + col("id")).as("value"))
    chain.unionByName(heavy)
  }

  /** Path-graph Laplacian on n nodes (spectrum 2−2cos(πq/n), closed form). */
  private[graft] def chainLaplacian(s: SparkSession, n: Long): DataFrame = {
    val chain = s.range(n - 1).select(col("id").as("row"), (col("id") + 1).as("col"),
      lit(-1.0).as("value"))
    val sym = chain.unionByName(chain.select(col("col").as("row"),
      col("row").as("col"), col("value")))
    val deg = s.range(n).select(col("id").as("row"), col("id").as("col"),
      when(col("id") === 0 || col("id") === n - 1, 1.0).otherwise(2.0).as("value"))
    sym.unionByName(deg)
  }

  /** n=1e5 diagonal with spectrum {1,2,3} ∪ {≥1000} — the certificate-
    * terminated large-n regime shared by the b∈{1,2,4} block-Lanczos
    * scale-evidence rows (closed-form smallest eigenvalues). */
  private def bigDiagFixture(s: SparkSession): DataFrame =
    s.range(100000).select(col("id").as("row"), col("id").as("col"),
      when(col("id") < 3, col("id").cast("double") + 1.0)
        .otherwise(lit(1000.0) + pmod(col("id"), lit(17)).cast("double")).as("value"))

  private def eigsDf(s: SparkSession, ev: Seq[Double]): DataFrame =
    s.createDataFrame(ev.zipWithIndex.map { case (v, i) =>
      (i, BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) })
      .toDF("i", "eig")

  val q: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Newton/IRLS logistic fit on real table data: y = 1[lang='en'],
    // x = ln(n_chars), intercept folded in as the leading 1.0 lane;
    // 3 iterations from w=0 (the oracle unrolls the same 3 steps)
    "solver_logreg" -> ((s, d) => {
      val data = graft.Tables.documents(s, d).select(
        array(lit(1.0), log(col("n_chars").cast("double"))).as("vec"),
        (col("lang") === "en").cast("double").as("y"))
      val w = SolverOps.logisticRegression(data, 3)
      s.createDataFrame(w.toSeq.zipWithIndex.map { case (wi, j) => (j.toLong, wi) })
        .toDF("j", "wraw")
        .select(col("j"), (round(col("wraw"), 6) + 0.0).as("w"))
    }),
    // ridge on lineitem (price ~ quantity, λ=100 off the intercept):
    // one treeAggregate Gram pass + a local 2×2 solve; the oracle is the
    // closed-form normal-equation solution
    "solver_ridge" -> ((s, d) => {
      val data = graft.Tables.lineitem(s, d).select(
        array(lit(1.0), col("l_quantity").cast("double")).as("vec"),
        col("l_extendedprice").cast("double").as("y"))
      val w = SolverOps.ridgeRegression(data, 100.0)
      s.createDataFrame(w.toSeq.zipWithIndex.map { case (wi, j) => (j.toLong, wi) })
        .toDF("j", "wraw")
        .select(col("j"), (round(col("wraw"), 4) + 0.0).as("w"))
    }),
    "solver_svd" -> ((s, d) => SolverOps.singularValues(walshFixture(s), 5)),
    "solver_pca_var" -> ((s, d) => SolverOps.pcaExplainedVariance(walshFixture(s), 5)),
    "solver_pca_transform" -> ((s, d) => SolverOps.pcaTransform(walshFixture(s), 5)),
    "solver_svd_v" -> ((s, d) => SolverOps.svdRightVectors(walshFixture(s), 5)),
    // k = rank ⇒ transform∘inverse_transform reproduces the fixture exactly
    "solver_pca_inverse" -> ((s, d) => SolverOps.pcaRoundTrip(walshFixture(s), 8)),
    "solver_top_eigen" -> ((s, d) => {
      val lambda = SolverOps.topEigenGram(walshFixture(s))
      s.createDataFrame(Seq(Tuple1(BigDecimal(lambda).setScale(2,
        BigDecimal.RoundingMode.HALF_UP).toDouble))).toDF("lambda1")
    }),
    "solver_mst" -> ((s, d) => SolverOps.boruvkaMst(mstFixture(s))),
    "solver_single_linkage" -> ((s, d) => {
      // chain with distinct hash weights (37 coprime 101 ⇒ no ties) plus
      // heavy shortcuts the MST rejects; k=5 cuts the 4 heaviest chain
      // edges → components are contiguous segments (closed-form oracle)
      val chain = s.range(59).select(col("id").as("src"), (col("id") + 1).as("dst"),
        (pmod(col("id") * 37, lit(101)).cast("double") / 101.0).as("value"))
      val heavy = s.range(60).select(
        least(col("id"), pmod(col("id") + 23, lit(60))).as("src"),
        greatest(col("id"), pmod(col("id") + 23, lit(60))).as("dst"),
        (lit(2.0) + col("id")).as("value"))
      SolverOps.singleLinkage(chain.unionByName(heavy), 5)
        .select(col("node"), col("comp"))
    }),
    "solver_partition" -> ((s, d) => graft.operators.SpectralOps.analyzePartition(s, d)),
    "solver_spectral_cut" -> ((s, d) => {
      // end-to-end spectral PARTITIONING (not just scoring): 3 cliques of
      // 4 (intra weight 1) coupled into a ring by 3 weak edges with
      // DISTINCT weights (.01/.02/.03 — equal weights make the two
      // coupling modes C₃-degenerate, and a single-start Krylov space
      // holds exactly one direction per eigenvalue, so Lanczos would
      // return a clique-internal mode as the third vector). The 3
      // smallest Laplacian eigenvectors are then near-indicators of the
      // cliques and the computed partition is the generative one —
      // closed form, same min-member-id canonicalization as label_cc.
      val ids = s.range(12)
      val intra = ids.select(col("id").as("row"))
        .join(ids.select(col("id").as("col")),
          col("row") =!= col("col") &&
            floor(col("row") / 4) === floor(col("col") / 4))
        .select(col("row"), col("col"), lit(1.0).as("value"))
      val weak = s.createDataFrame(
        Seq((3L, 4L, 0.01), (7L, 8L, 0.02), (11L, 0L, 0.03))
          .flatMap { case (u, v, w) => Seq((u, v, w), (v, u, w)) })
        .toDF("row", "col", "value")
      graft.operators.SpectralOps.spectralPartition(
        intra.unionByName(weak), 12, 3, m = 13)
    }),
    "solver_modularity" -> ((s, d) => graft.operators.SpectralOps.modularity(s, d)),
    "solver_qr" -> ((s, d) => SolverOps.qrR(walshFixture(s))),
    // Q factor via A·R⁻¹ (positive-diagonal sign convention): the Walsh
    // columns are orthogonal with norm 16(j+1), so Q = walsh_j(id)/16
    // exactly — the oracle replays that closed form
    "solver_qr_q" -> ((s, d) => {
      val q = SolverOps.qrQ(walshFixture(s))
      q.select(col("id"), posexplode(
          array((0 until 8).map(j => col(s"q$j")): _*)).as(Seq("pos", "q")))
        .select(col("id"), col("pos"), (round(col("q"), 6) + 0.0).as("q"))
    }),
    "solver_lstsq" -> ((s, d) => {
      val x = SolverOps.lstsq(lstsqFixture(s))
      s.createDataFrame(x.toSeq.zipWithIndex.map { case (v, i) =>
        (i, BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) })
        .toDF("j", "coef")
    }),
    "solver_rsvd" -> ((s, d) => {
      val sv = SolverOps.rsvdSingularValues(walshFixture(s), 5)
      s.createDataFrame(sv.zipWithIndex.map { case (v, i) =>
        (i, BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble) })
        .toDF("i", "sigma")
    }),
    "solver_eigsh" -> ((s, d) => {
      // symmetric Laplacian of the 30-node chain graph (known spectrum)
      eigsDf(s, SolverOps.eigshSmallest(chainLaplacian(s, 30), 30, 3))
    }),
    "solver_eigsh_sharded" -> ((s, d) => {
      // chain Laplacian through the sharded-basis thick-restart path;
      // spectrum is closed-form → real SQL oracle. m > n: the basis
      // reaches the full space, the residual vanishes and one phase
      // returns the exact spectrum — no restart cycles. n=20 at the
      // default block width 2 keeps the driver loop at 10 steps;
      // same-matrix agreement with the driver-basis path stays pinned at
      // n=30 in Solver2Spec.
      eigsDf(s, SolverOps.eigshSharded(chainLaplacian(s, 20), 20, 3,
        m = 25, maxRestarts = 4)._1)
    }),
    "solver_eigsh_vectors" -> ((s, d) => {
      // Ritz VECTORS from the sharded basis (factor output, not just the
      // spectrum): path-graph eigenvectors are the DCT-II basis,
      // v_q(i) = sqrt(2/n)·cos(πq(i+1/2)/n) (q ≥ 1; v_0 = 1/sqrt(n)), so
      // per-coordinate v² is closed form — sign-free, hence hash-stable.
      // n=16 (not the n=30 the value queries use): the extraction path is
      // identical, the driver loop is half the steps — the bench row pays
      // for the factor demonstration, not for a second spectrum solve.
      // Default block width 2: each step adds two lanes, so the 16-lane
      // space takes 8 steps. The vectors come back as a lazy checkpoint
      // planned at the loop's confs; this select runs it.
      val (_, vecs) = SolverOps.eigshSharded(chainLaplacian(s, 16), 16, 3,
        m = 20, maxRestarts = 4)
      vecs.select(col("i"), posexplode(col("v")).as(Seq("q", "x")))
        .select(col("i"), col("q").cast("long").as("q"),
          (round(col("x") * col("x"), 4) + 0.0).as("v2"))
    }),
    "solver_eigsh_sharded_big" -> ((s, d) => {
      // n = 1e5: the sharded basis is the only path that works here — the
      // driver-basis eigshSmallest would hold 25 n-vectors. Diagonal
      // spectrum {1,2,3} ∪ {≥1000}: the 300× gap lets the per-step Ritz
      // certificate fire in ≪ m steps (no restart cycles), and the smallest
      // eigenvalues are closed form → real oracle at a scale the fixture
      // queries above cannot reach. Driver state stays m×m throughout.
      // Block path (b=2): the certificate fires at the same Krylov
      // dimension in half the driver round-trips — the job-latency lever
      // for the certificate-terminated large-n regime.
      // tol 1e-5 (r14): the fixture's smallest eigenvalues are {1,2,3}
      // with unit gaps, so Kato-Temple gives |θ−λ| ≤ tol²/gap = 1e-10 —
      // five orders inside the 6-dp oracle rounding; saves ~2 of ~9
      // certificate steps (the bound decays ~250×/step once converging)
      eigsDf(s, SolverOps.eigshSharded(bigDiagFixture(s), 100000L, 3,
        m = 25, b = 2, maxRestarts = 0, tol = 1e-5)._1)
    }),
    // b-scaling evidence rows (VERDICT r5 #8): the SAME n=1e5 fixture at
    // b=1 and b=4 so BENCH carries wall-clock numbers for the block-width
    // tradeoff next to the b=2 row above (round-trips ∝ m/b; per-step
    // shuffle volume ∝ b). Job-count proof lives in Solver2Spec.
    "solver_eigsh_b1" -> ((s, d) =>
      eigsDf(s, SolverOps.eigshSharded(bigDiagFixture(s), 100000L, 3,
        m = 25, b = 1, maxRestarts = 0, tol = 1e-5)._1)),
    "solver_eigsh_b4" -> ((s, d) =>
      eigsDf(s, SolverOps.eigshSharded(bigDiagFixture(s), 100000L, 3,
        m = 25, b = 4, maxRestarts = 0, tol = 1e-5)._1)),
    // summary form: the optimal TOTAL is unique (the permutation may not
    // be), so the oracle is the independently-computed optimum — 115
    // integer units for the n=50 modular fixture (verified with an
    // external Jonker-Volgenant implementation); permutation properties
    // (perfect matching, matches auction certificate) live in Solver2Spec
    "solver_eigsh_auto" -> ((s, d) => {
      // the kAuto entry point (VERDICT r10 item 3): nnz=1e5 dispatches to
      // the driver-local SpMV tier here; the block tier (b from
      // eigshBlockAuto, floor-measured b=2) is exercised by the
      // `eigshauto` ScaleProbe at nnz > 1e6 — same closed-form oracle
      eigsDf(s, SolverOps.eigshSmallestAuto(bigDiagFixture(s), 100000L, 3))
    }),
    "solver_lap" -> ((s, d) => SolverOps.lapAssignmentSummary(s, 50)),
    // auto tier (r14): n·T = 8.5e3 → driver Gauss-Seidel + typedLit-price
    // certificate. The previous keyedFinal=true spent ~7 s in 16 keyed
    // Jacobi rounds on a 500-row problem — pure per-round job latency; the
    // keyed-phase path stays covered by Solver2Spec, and the certificate
    // guarantees the same exact optimum in every tier.
    "solver_lap_dist" -> ((s, d) =>
      SolverOps.lapAuctionDistributed(s, 500)),
    "solver_lap_planted" -> ((s, d) => {
      // 4×-the-n scale-evidence row with a REAL oracle at any n: plant a
      // dual certificate. c(i,j) = u_i + v_j + s(i,j) with s ≥ 0 and
      // s(i, π(i)) = 0 for the permutation π(i) = 2001·i mod n (2001 ⊥
      // 2000) ⇒ by LP duality the optimal total is EXACTLY Σu + Σv —
      // closed form in SQL, no external solver needed (the n=500 row's
      // constant needed one). The planted edge costs ≤ 800 vs ~1e6 hash
      // noise, so it lands in every row's top-T kernel; the certificate
      // pass scans all n² entries through the broadcast-join price form
      // (priceJoinThreshold=0 — the form that scales; the typedLit path
      // stays covered by solver_lap_dist). n=2000 keeps the n²=4e6-row
      // md5 cost-generation affordable per round; the n=5e4 certificate
      // pass is the one-off run recorded in SCALE.md.
      val u = pmod(col("i") * 13, lit(500L))
      val v = pmod(col("j") * 7, lit(300L))
      val noise = pmod(graft.operators.TextOps.h32(
        concat_ws(":", col("i"), col("j"), lit("lapP"))), lit(1000000L)) + 1
      val c = when(col("j") === pmod(col("i") * 2001, lit(2000L)), u + v)
        .otherwise(u + v + noise)
      SolverOps.lapAuctionDistributed(s, 2000, priceJoinThreshold = 0,
        costExpr = Some(c))
    }),
    "solver_lap_planted_big" -> ((s, d) => {
      // the 5×-bigger certificate row (VERDICT r6 item 6): same planted
      // dual construction at n=10000 (1e8-entry cost matrix, kernel
      // collect = n·topT ≈ 1.7e5 rows — the one driver object that grows
      // with n, exercised at 5× the per-round size; the 2e4/5e4 one-off
      // runs live in SCALE.md). The s(i,j) noise only needs s ≥ 1 off the
      // permutation — the CLOSED-FORM oracle (Σu + Σv by LP duality) never
      // replays it — so it draws from the ~20× cheaper xxhash64 counter
      // hash instead of the md5 oracle hash (the RandomOps.hashUFast rule:
      // internal draws that are never value-compared may use the fast
      // path). 2001 ⊥ 10000 so π is a permutation.
      val nB = 10000L
      val u = pmod(col("i") * 13, lit(500L))
      val v = pmod(col("j") * 7, lit(300L))
      val noise = pmod(xxhash64(col("i"), col("j"), lit("lapPB")), lit(1000000L)) + 1
      val c = when(col("j") === pmod(col("i") * 2001, lit(nB)), u + v)
        .otherwise(u + v + noise)
      // auto tier (r14, VERDICT r13 item 5): n·T = 1.7e5 → the exec-resident
      // auction — the WHOLE ε-schedule in one task holding the coalesced
      // kernel, no price array on the driver (the property keyedFinal=true
      // bought), but ONE Spark job instead of coarse driver phases + 7 keyed
      // Jacobi rounds (~5.5 s of round-trip latency at this n). The keyed
      // certificate still consumes the state table directly.
      SolverOps.lapAuctionDistributed(s, nB.toInt, priceJoinThreshold = 0,
        costExpr = Some(c))
    }),
    "solver_rsvd_sparse" -> ((s, d) => {
      // closed-form rank-8 fixture (exact σ, SQL oracle); the real-data
      // variant (cooOrdersParts, 20k-column Ω) lives in Solver2Spec
      val sv = SolverOps.rsvdSparse(rsvdSparseFixture(s), 5,
        colDomain = Some(s.range(8).select(col("id"))), knownNnz = 200000L)
      s.createDataFrame(sv.zipWithIndex.map { case (v, i) =>
        (i, BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble) })
        .toDF("i", "sigma")
    }),
    "solver_chol_r1" -> ((s, d) => {
      // cholesky_rank1_update on the Walsh Gram: L = chol(AᵀA) =
      // diag(16·(j+1)) EXACTLY (integer Gram, perfect squares), then
      // append observation x = (1..8). chol(D² + xxᵀ) has the
      // Gill-Golub-Murray-Saunders closed form (t_j = 1 + Σ_{m≤j} x_m²/d_m²:
      // L_jj = d_j·√(t_j/t_{j-1}); L_ij = x_i·x_j/(d_j·√(t_{j-1}·t_j))) —
      // a cumulative-sum window in SQL, so the driver compare is a real
      // oracle. The Gram itself comes through the distributed treeAggregate
      // path; the O(d²) update is the driver-local incremental-factor
      // building block (reference: linalg/cholesky_r1_update.cuh:116).
      import breeze.linalg.{cholesky, DenseVector}
      val l = cholesky(SolverOps.gramMatrix(walshFixture(s)))
      val x = DenseVector.tabulate(8)(j => (j + 2).toDouble)
      val l2 = SolverOps.choleskyRank1Update(l, x)
      val rows = for (i <- 0 until 8; j <- 0 to i) yield
        (i, j, BigDecimal(l2(i, j)).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
      s.createDataFrame(rows).toDF("i", "j", "l")
    }),
    "solver_tsvd_recon" -> ((s, d) => {
      val (err, total) = SolverOps.tsvdReconstructionError(walshFixture(s), 5)
      s.createDataFrame(Seq((
        BigDecimal(err).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(err / total).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
        .toDF("frob_err_sq", "err_ratio")
    }),
  )

  private val graphCte =
    """WITH coo AS (
      |  SELECT l_orderkey AS row, l_partkey AS col, sum(l_quantity) AS value
      |  FROM lineitem GROUP BY 1, 2),
      |e0 AS (
      |  SELECT a.col AS src, b.col AS dst, CAST(count(*) AS DOUBLE) AS value
      |  FROM coo a JOIN coo b ON a.row = b.row AND a.col < b.col
      |  GROUP BY 1, 2),
      |g AS (
      |  SELECT src, dst, value, src % 5 AS cs, dst % 5 AS cd FROM (
      |    SELECT src, dst, value FROM e0
      |    UNION ALL SELECT dst AS src, src AS dst, value FROM e0))""".stripMargin

  /** Walsh-fixture closed forms (see header): σ_j = 16(j+1) desc,
    * explained-variance proportions (j+1)²/204 desc. */
  val sql: Map[String, String] = Map(
    // closed-form (XᵀX + λI)w = Xᵀy with λ off the intercept lane; the
    // 4-decimal round absorbs the LU-vs-adjugate ulp gap
    "solver_ridge" ->
      """WITH s AS (SELECT CAST(count(*) AS DOUBLE) AS h00,
        |    sum(l_quantity) AS h01,
        |    sum(l_quantity * l_quantity) + 100.0 AS h11,
        |    sum(l_extendedprice) AS g0,
        |    sum(l_quantity * l_extendedprice) AS g1
        |  FROM lineitem)
        |SELECT CAST(0 AS BIGINT) AS j,
        |  round((h11 * g0 - h01 * g1) / (h00 * h11 - h01 * h01), 4) + 0.0 AS w
        |FROM s
        |UNION ALL SELECT CAST(1 AS BIGINT),
        |  round((h00 * g1 - h01 * g0) / (h00 * h11 - h01 * h01), 4) + 0.0
        |FROM s""".stripMargin,
    // 3 unrolled Newton steps with the 2×2 Hessian inverted in closed
    // form; w diffs between engines are O(ulp)-amplified only, well
    // inside the 6-decimal round
    "solver_logreg" -> {
      def iter(t: Int): String =
        s"""s$t AS (SELECT sum(q) AS h00, sum(q * x) AS h01, sum(q * x * x) AS h11,
           |    sum(p - y) AS g0, sum((p - y) * x) AS g1 FROM (
           |  SELECT x, y, p, p * (1.0 - p) AS q FROM (
           |    SELECT x, y, 1.0 / (1.0 + exp(-(w.a + w.b * x))) AS p
           |    FROM d, w${t - 1} w))),
           |w$t AS (SELECT w.a - (h11 * g0 - h01 * g1) / (h00 * h11 - h01 * h01) AS a,
           |    w.b - (h00 * g1 - h01 * g0) / (h00 * h11 - h01 * h01) AS b
           |  FROM s$t, w${t - 1} w)""".stripMargin
      s"""WITH d AS MATERIALIZED (SELECT ln(CAST(n_chars AS DOUBLE)) AS x,
         |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y FROM documents),
         |w0 AS (SELECT 0.0 AS a, 0.0 AS b),
         |${(1 to 3).map(iter).mkString(",\n")}
         |SELECT CAST(0 AS BIGINT) AS j, round(a, 6) + 0.0 AS w FROM w3
         |UNION ALL SELECT CAST(1 AS BIGINT), round(b, 6) + 0.0 FROM w3""".stripMargin
    },
    // Constant = the Hungarian optimum of the deterministic md5-hash cost
    // fixture (n=500, costs = h32(i:j:lap) mod 1e6) — independently
    // computable from the fixture alone; Solver2Spec cross-checks the
    // distributed auction against the in-repo Hungarian at n=60. The
    // auction's ε-CS certificate + integer costs guarantee exact equality.
    "solver_lap_dist" ->
      "SELECT CAST(500 AS BIGINT) AS n_assigned, CAST(1584818 AS BIGINT) AS total_cost",
    // optimum of the n=50 modular fixture, computed with an independent
    // Jonker-Volgenant implementation (cost'(i,j) = (31i+17j) mod 97;
    // the total is unique even where the argmin permutation is not)
    "solver_lap" ->
      "SELECT CAST(50 AS BIGINT) AS n_assigned, CAST(115 AS BIGINT) AS total_units",
    "solver_mst" ->
      """SELECT i AS src, i + 1 AS dst, CAST(1.0 AS DOUBLE) AS value
        |FROM range(99) t(i)""".stripMargin,
    "solver_single_linkage" ->
      """WITH ch AS (
        |  SELECT i AS src, ((i*37) % 101) / 101.0 AS w FROM range(59) t(i)),
        |cut AS (SELECT src FROM ch ORDER BY w DESC LIMIT 4)
        |SELECT node,
        |  coalesce((SELECT max(c.src) + 1 FROM cut c WHERE c.src < node), 0) AS comp
        |FROM range(60) t(node)""".stripMargin,
    // path-graph Laplacian spectrum is closed form: 2 − 2cos(πq/n)
    "solver_eigsh" ->
      """SELECT i, round(2.0 - 2.0 * cos(pi() * i / 30), 6) + 0.0 AS eig
        |FROM range(3) t(i)""".stripMargin,
    "solver_eigsh_sharded" ->
      """SELECT i, round(2.0 - 2.0 * cos(pi() * i / 20), 6) + 0.0 AS eig
        |FROM range(3) t(i)""".stripMargin,
    "solver_eigsh_sharded_big" ->
      "SELECT i, CAST(i + 1.0 AS DOUBLE) AS eig FROM range(3) t(i)",
    "solver_eigsh_b1" ->
      "SELECT i, CAST(i + 1.0 AS DOUBLE) AS eig FROM range(3) t(i)",
    "solver_eigsh_auto" ->
      "SELECT i, CAST(i + 1.0 AS DOUBLE) AS eig FROM range(3) t(i)",
    "solver_eigsh_b4" ->
      "SELECT i, CAST(i + 1.0 AS DOUBLE) AS eig FROM range(3) t(i)",
    // planted dual certificate: optimum = Σu + Σv exactly (s ≥ 0, zero on π)
    "solver_lap_planted" ->
      """SELECT CAST(2000 AS BIGINT) AS n_assigned,
        |  CAST((SELECT sum((i * 13) % 500) FROM range(2000) t(i))
        |     + (SELECT sum((j * 7) % 300) FROM range(2000) t(j)) AS BIGINT)
        |    AS total_cost""".stripMargin,
    "solver_lap_planted_big" ->
      """SELECT CAST(10000 AS BIGINT) AS n_assigned,
        |  CAST((SELECT sum((i * 13) % 500) FROM range(10000) t(i))
        |     + (SELECT sum((j * 7) % 300) FROM range(10000) t(j)) AS BIGINT)
        |    AS total_cost""".stripMargin,
    // DCT-II closed form for the path-graph eigenvectors, squared
    "solver_eigsh_vectors" ->
      """SELECT i, q,
        |  round(CASE WHEN q = 0 THEN 1.0/16
        |    ELSE (2.0/16) * cos(pi()*q*(i+0.5)/16) * cos(pi()*q*(i+0.5)/16)
        |    END, 4) + 0.0 AS v2
        |FROM range(16) t(i), range(3) s(q)""".stripMargin,
    "solver_svd" ->
      "SELECT i, CAST(16 * (8 - i) AS DOUBLE) AS sigma FROM range(5) t(i)",
    "solver_rsvd" ->
      "SELECT i, CAST(16 * (8 - i) AS DOUBLE) AS sigma FROM range(5) t(i)",
    "solver_top_eigen" ->
      "SELECT CAST(16384.0 AS DOUBLE) AS lambda1",
    "solver_qr" ->
      """SELECT a.i, b.j,
        |  CAST(CASE WHEN a.i = b.j THEN 16 * (a.i + 1) ELSE 0 END AS DOUBLE) AS r
        |FROM range(8) a(i), range(8) b(j) WHERE b.j >= a.i""".stripMargin,
    // Q(id, j) = walsh_j(id)/16: the fixture's columns are orthogonal, so
    // A·R⁻¹ collapses to the sign pattern over the column norm
    "solver_qr_q" ->
      """SELECT t.id, s.j AS pos,
        |  round((1.0 - 2.0 * (bit_count(t.id & (s.j + 1)) % 2)) / 16.0, 6)
        |    + 0.0 AS q
        |FROM range(256) t(id) CROSS JOIN range(8) s(j)""".stripMargin,
    "solver_lstsq" ->
      "SELECT i AS j, CAST(i + 1 AS DOUBLE) AS coef FROM range(8) t(i)",
    "solver_pca_var" ->
      """SELECT i, round((8 - i) * (8 - i) / 204.0, 6) + 0.0 AS explained
        |FROM range(5) t(i)""".stripMargin,
    // component t = signed basis vector of column 7−t (variance desc);
    // sign-normalized ⇒ projection = the raw Walsh column value
    "solver_pca_transform" ->
      """SELECT i AS id, t AS comp,
        |  CAST((8 - t) * (CASE WHEN bit_count(i & (8 - t)) % 2 = 1
        |                       THEN -1 ELSE 1 END) AS DOUBLE) + 0.0 AS value
        |FROM range(256) a(i), range(5) b(t)""".stripMargin,
    // full-rank round trip reproduces the Walsh entries exactly
    "solver_pca_inverse" ->
      """SELECT i AS id, j AS pos,
        |  CAST((j + 1) * (CASE WHEN bit_count(i & (j + 1)) % 2 = 1
        |                       THEN -1 ELSE 1 END) AS DOUBLE) + 0.0 AS v
        |FROM range(256) a(i), range(8) b(j)""".stripMargin,
    // V_k of the Walsh design = signed standard basis; component t picks
    // lane 7−t (variance desc), sign-normalized positive
    "solver_svd_v" ->
      """SELECT t AS comp, j AS lane,
        |  CAST(CASE WHEN j = 7 - t THEN 1 ELSE 0 END AS DOUBLE) AS v
        |FROM range(5) a(t), range(8) b(j)""".stripMargin,
    // ‖A‖²_F = 256·Σ(j+1)² = 52224; kept (k=5) = 256·(16+25+36+49+64);
    // err = 256·(1+4+9) = 3584
    "solver_tsvd_recon" ->
      """SELECT CAST(3584.0 AS DOUBLE) AS frob_err_sq,
        |  round(3584.0 / 52224.0, 6) + 0.0 AS err_ratio""".stripMargin,
    // Gill-Golub-Murray-Saunders closed form for chol(D² + xxᵀ):
    // t_j = 1 + Σ_{m≤j} x_m²/d_m² (a cumulative window); diagonal
    // d_j√(t_j/t_{j-1}), below-diagonal x_i·x_j/(d_j·√(t_{j-1}·t_j)).
    // Validated to 1.4e-14 against the sequential update (3.4e-9 from the
    // nearest 6-dp rounding boundary, so both engines land the same digits).
    "solver_chol_r1" ->
      """WITH p AS (
        |  SELECT j, CAST(16 * (j + 1) AS DOUBLE) AS dj,
        |         CAST(j + 2 AS DOUBLE) AS xj
        |  FROM range(8) t(j)),
        |tt AS (
        |  SELECT j, dj, xj,
        |    1.0 + sum(xj * xj / (dj * dj)) OVER (ORDER BY j) AS tj,
        |    1.0 + coalesce(sum(xj * xj / (dj * dj)) OVER (ORDER BY j
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS tp
        |  FROM p)
        |SELECT CAST(a.j AS INT) AS i, CAST(b.j AS INT) AS j,
        |  round(CASE WHEN a.j = b.j THEN b.dj * sqrt(b.tj / b.tp)
        |        ELSE a.xj * b.xj / (b.dj * sqrt(b.tp * b.tj)) END, 6) + 0.0 AS l
        |FROM p a JOIN tt b ON a.j >= b.j""".stripMargin,
    "solver_rsvd_sparse" ->
      """WITH v AS (
        |  SELECT i % 8 AS c, (((i*37) % 101) + 1) / 10.0 AS v
        |  FROM range(200000) t(i)),
        |sg AS (SELECT c, sqrt(sum(v*v)) AS sig FROM v GROUP BY c)
        |SELECT CAST(row_number() OVER (ORDER BY sig DESC) - 1 AS INT) AS i,
        |       round(sig, 2) + 0.0 AS sigma
        |FROM sg ORDER BY sig DESC LIMIT 5""".stripMargin,
    "solver_spectral_cut" ->
      "SELECT i AS node, (i // 4) * 4 AS label FROM range(12) t(i)",
    "solver_partition" ->
      s"""$graphCte,
         |sizes AS (
         |  SELECT cs AS cluster, count(*) AS size FROM
         |    (SELECT DISTINCT src, cs FROM g) GROUP BY 1),
         |cut AS (
         |  SELECT cs AS cluster, round(sum(value), 2) AS cut_weight
         |  FROM g WHERE cs <> cd GROUP BY 1)
         |SELECT sizes.cluster, sizes.size, coalesce(cut.cut_weight, 0.0) AS cut_weight
         |FROM sizes LEFT JOIN cut ON sizes.cluster = cut.cluster""".stripMargin,
    "solver_modularity" ->
      s"""$graphCte,
         |m AS (SELECT sum(value) AS m2 FROM g),
         |pc AS (
         |  SELECT cs, sum(CASE WHEN cs = cd THEN value ELSE 0.0 END) AS ec,
         |         sum(value) AS dc
         |  FROM g GROUP BY cs)
         |SELECT round(sum(ec/m.m2 - (dc/m.m2)*(dc/m.m2)), 6) AS modularity
         |FROM pc, m""".stripMargin,
  )
}
