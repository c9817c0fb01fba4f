package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-off n-scaling probes for the custom scale paths (distributed
  * auction LAP, sharded block Lanczos, ball-cover exact kNN) — the runs
  * behind SCALE.md's
  * measured rows. Not part of the per-round bench (a 2.5e9-row certificate
  * pass per round would drown the 193-query suite); run manually:
  *
  *   sbt "runMain graft.ScaleProbe lap 50000"
  *   sbt "runMain graft.ScaleProbe eigsh 1000000 2"
  *   SPARK_DRIVER_MEM=48g sbt "runMain graft.ScaleProbe ballcover 100000"
  *
  * Every fixture carries a provable oracle: the LAP instance plants a
  * dual certificate (optimum = Σu + Σv exactly), the diagonal spectrum's
  * smallest eigenvalues are {1, 2, 3} by construction, and the
  * ball-cover clusters are separated so cross-cluster output edges are
  * impossible — each probe FAILS loudly on a wrong result, so a timing
  * only ever comes from a correct run.
  */
object ScaleProbe {
  // SPARK_GRAFT_MASTER=local-cluster[2,16,4096] runs the probe with REAL
  // separate executor JVMs + Netty shuffle (VERDICT r10 item 5 — the
  // multi-JVM evidence for the "rounds are latency-bound" claims);
  // executors are fresh JVMs, so they need the graft classes on their
  // own classpath
  private def probeMaster = sys.env.getOrElse("SPARK_GRAFT_MASTER", "")

  /** The probe's session: [[GraftSession.forMain]] (the confs Bench and
    * Verify run under) at `SPARK_GRAFT_MASTER`, with the executor
    * classpath (the sbt build's classes under the working directory by
    * default) and memory a `local-cluster` master needs. */
  def session(): SparkSession = GraftSession.forMain("graft-scaleprobe", probeMaster,
    if (!probeMaster.startsWith("local-cluster")) Nil else Seq(
      "spark.executor.extraClassPath" ->
        sys.env.getOrElse("SPARK_GRAFT_EXEC_CP",
          new java.io.File("target/scala-2.13/classes").getAbsolutePath),
      "spark.executor.memory" -> sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "4g")))

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("lap")
    val n = if (args.length > 1) args(1).toLong else 50000L
    val spark = session()
    // exchange evidence (VERDICT r9 item 5): count shuffle-map stages and
    // total shuffle-write volume for the WHOLE probe, so each SCALE.md row
    // carries measured exchange counts next to its wall-clock
    val shuffleStages = new java.util.concurrent.atomic.AtomicLong
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val w = sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
        if (w > 0) { shuffleStages.incrementAndGet(); shuffleBytes.addAndGet(w) }
      }
    })
    val t0 = System.nanoTime()
    val result: String = mode match {
      case "lap" =>
        // planted dual certificate (SolverQueries.lapPlantedCost, the
        // solver_lap_planted_big fixture at n: the closed-form Σu + Σv
        // optimum). Optional 3rd arg = kernel width T (0 = the measured
        // SolverOps.LapKernelT), 4th = the tier (driver | exec | keyed;
        // default SolverOps.lapTier's pick). The kernel build is the
        // dominant LAP term, so T is a measured knob like eigsh's b.
        import graft.operators.SolverOps
        import SolverOps.LapTier
        val topT = if (args.length > 2 && args(2).toInt > 0) args(2).toInt else SolverOps.LapKernelT
        val tier = args.lift(3).map(name => Seq(LapTier.Driver, LapTier.Exec, LapTier.Keyed)
          .find(_.name == name).getOrElse(sys.error(s"unknown LAP tier $name (driver | exec | keyed)")))
        graft.Instrument.reset()
        val row = SolverOps.lapAuctionDistributed(spark, n.toInt, topT = topT,
          costExpr = Some(graft.queries.SolverQueries.lapPlantedCost(n)), tier = tier).head()
        val expect = (0L until n).map(i => (i * 13) % 500).sum +
          (0L until n).map(j => (j * 7) % 300).sum
        require(row.getLong(0) == n && row.getLong(1) == expect,
          s"LAP wrong: got (${row.getLong(0)}, ${row.getLong(1)}), want ($n, $expect)")
        val snap = graft.Instrument.snapshot()
        val tierRun = tier.getOrElse(SolverOps.lapTier(n, topT)).name
        def c(k: String) = snap.getOrElse(s"lap.$k", 0L)
        s""""mode":"lap","n":$n,"topT":$topT,"tier":"$tierRun","ms_kernel":${c("ms_kernel")},"ms_auction":${c("ms_auction")},"ms_certificate":${c("ms_certificate")},"phases":${c("phases")},"keyed_rounds":${c("keyed_rounds")},"suspect_rows":${c("certificate_suspect_rows")},"repair_iters":${c("repair_iters")},"keyed_fallbacks":${c("keyed_fallbacks")},"total_cost":${row.getLong(1)}"""
      case "eigsh" =>
        val b = if (args.length > 2) args(2).toInt else 2
        val diag = spark.range(n).select(col("id").as("row"), col("id").as("col"),
          when(col("id") < 3, col("id").cast("double") + 1.0)
            .otherwise(lit(1000.0) + pmod(col("id"), lit(17)).cast("double")).as("value"))
        val (ev, _) = graft.operators.SolverOps.eigshSharded(
          diag, n, 3, m = 25, b = b, maxRestarts = 0)
        ev.zipWithIndex.foreach { case (l, i) =>
          require(math.abs(l - (i + 1.0)) < 1e-6, s"eig $i wrong: $l") }
        s""""mode":"eigsh","n":$n,"b":$b"""
      case "eigshauto" =>
        // the kAuto entry at scale: nnz = n > 1e6 must dispatch to the
        // BLOCK tier with the floor-measured width (VERDICT r10 item 3);
        // same diag fixture and {1,2,3} closed-form oracle as `eigsh`
        val bAuto = graft.operators.SolverOps.eigshBlockAuto(n, n, 3, 25)
        val diag = spark.range(n).select(col("id").as("row"), col("id").as("col"),
          when(col("id") < 3, col("id").cast("double") + 1.0)
            .otherwise(lit(1000.0) + pmod(col("id"), lit(17)).cast("double")).as("value"))
        val ev = graft.operators.SolverOps.eigshSmallestAuto(diag, n, 3, m = 25)
        ev.zipWithIndex.foreach { case (l, i) =>
          require(math.abs(l - (i + 1.0)) < 1e-6, s"eig $i wrong: $l") }
        s""""mode":"eigshauto","n":$n,"b_auto":$bAuto"""
      case "ballcover" =>
        // 1000 well-separated clusters (centers distinct: gcd(7,1000)=1,
        // lane offsets 13j; separation ≥10 vs noise σ=1), one landmark
        // per cluster (ids 0..999). True 5-NN are in-cluster whp, so
        // cross-cluster output edges = broken pruning — a closed-form
        // exactness check that needs no n² brute force.
        val cC = 1000L
        val h = (tag: String, j: org.apache.spark.sql.Column) =>
          (graft.operators.TextOps.h32(concat_ws(":", col("id"), j, lit(42), lit(tag)))
            + lit(0.5)) / lit(4294967296.0)
        val pts = spark.range(n).select(col("id"),
          transform(sequence(lit(0), lit(7)), j => {
            val center = pmod(pmod(col("id"), lit(cC)) * 7 + j * 13, lit(cC))
              .cast("double") * 10.0
            center + sqrt(lit(-2.0) * log(h("p1", j))) *
              cos(lit(2.0 * math.Pi) * h("p2", j))
          }).as("vec")).localCheckpoint(true)
        val res = graft.operators.DistanceOps.ballCoverKnn(pts, 5, cC.toInt)
          .localCheckpoint(true)
        val cnt = res.count()
        require(cnt == n * 5, s"expected ${n * 5} edges, got $cnt")
        val bad = res.where(pmod(col("src"), lit(cC)) =!= pmod(col("dst"), lit(cC))).count()
        require(bad == 0, s"$bad cross-cluster neighbors — pruning broke exactness")
        val cand = graft.operators.DistanceOps.ballCoverCandidates(pts, 5, cC.toInt).count()
        val ratio = cand.toDouble / (n.toDouble * (n - 1))
        s""""mode":"ballcover","n":$n,"landmarks":$cC,"cand_pairs":$cand,"pair_ratio":$ratio"""
      case "graphann" =>
        // end-to-end graph-ANN composition at scale: ball-cover builds the
        // EXACT kNN-5 graph (the 0.099%-of-n² path), reverse edges double
        // the walkable degree, landmark-seeded beam search answers
        // queries. Self-check: per-query searched top-5 vs the exact
        // graph's edges (recall), plus the zero-cross-cluster invariant.
        // 2 landmarks per cluster so every query (ids < 100 ARE the
        // one-per-cluster landmarks) still has an own-cluster entry point.
        val cC = 1000L
        val h = (tag: String, j: org.apache.spark.sql.Column) =>
          (graft.operators.TextOps.h32(concat_ws(":", col("id"), j, lit(42), lit(tag)))
            + lit(0.5)) / lit(4294967296.0)
        val pts = spark.range(n).select(col("id"),
          transform(sequence(lit(0), lit(7)), j => {
            val center = pmod(pmod(col("id"), lit(cC)) * 7 + j * 13, lit(cC))
              .cast("double") * 10.0
            center + sqrt(lit(-2.0) * log(h("p1", j))) *
              cos(lit(2.0 * math.Pi) * h("p2", j))
          }).as("vec")).localCheckpoint(true)
        val exact = graft.operators.DistanceOps.ballCoverKnn(pts, 5, cC.toInt)
          .select(col("src"), col("dst")).localCheckpoint(true)
        val g = exact.unionByName(
          exact.select(col("dst").as("src"), col("src").as("dst"))).distinct()
        val res = graft.operators.AnnOps
          .graphSearchTopKLandmarks(pts, g, 100, 5, 8, 6, 2 * cC.toInt)
          .localCheckpoint(true)
        val bad = res.where(pmod(col("qid"), lit(cC)) =!= pmod(col("node"), lit(cC))).count()
        require(bad == 0, s"$bad cross-cluster answers")
        val hits = res.select(col("qid").as("src"), col("node").as("dst"))
          .join(exact, Seq("src", "dst")).count()
        val recall = hits.toDouble / (100 * 5)
        require(recall >= 0.95, s"graph-search recall $recall below 0.95")
        s""""mode":"graphann","n":$n,"recall":$recall"""
      case "graphopt" =>
        // CAGRA-style optimize at scale: exact kNN-10 via the ball-cover
        // prune, detour-prune + reverse to deg 5, then landmark-seeded
        // search over the OPTIMIZED graph. Self-checks: degree bounds,
        // pruning actually dropped edges, recall vs the exact kNN-5
        // edges ≥ 0.95, zero cross-cluster answers.
        val cC2 = 1000L
        val h2 = (tag: String, j: org.apache.spark.sql.Column) =>
          (graft.operators.TextOps.h32(concat_ws(":", col("id"), j, lit(42), lit(tag)))
            + lit(0.5)) / lit(4294967296.0)
        val pts2 = spark.range(n).select(col("id"),
          transform(sequence(lit(0), lit(7)), j => {
            val center = pmod(pmod(col("id"), lit(cC2)) * 7 + j * 13, lit(cC2))
              .cast("double") * 10.0
            center + sqrt(lit(-2.0) * log(h2("p1", j))) *
              cos(lit(2.0 * math.Pi) * h2("p2", j))
          }).as("vec")).localCheckpoint(true)
        val g10 = graft.operators.DistanceOps.ballCoverKnn(pts2, 10, cC2.toInt)
          .select(col("src"), col("dst"), col("rnk")).localCheckpoint(true)
        val nIn = g10.count()
        val opt = graft.operators.AnnOps.optimizeKnnGraph(g10, 5).localCheckpoint(true)
        val nOut = opt.count()
        val maxDeg = opt.groupBy(col("src")).count()
          .agg(max(col("count"))).collect()(0).getLong(0)
        require(maxDeg <= 10, s"out-degree $maxDeg exceeds 2*deg")
        val nFwd = opt.where(col("is_fwd") === 1).count()
        require(nFwd < nIn, s"detour pruning dropped nothing ($nFwd of $nIn)")
        val exact5 = g10.where(col("rnk") <= 5)
          .select(col("src"), col("dst")).localCheckpoint(true)
        // search width (beam, hops) is the CAGRA recall/latency knob: the
        // deg-5 pruned graph needs a wider walk as clusters grow (n/1000
        // points each) — n=2e4 hits 0.998 recall at (8, 6); n=1e5's
        // 100-point clusters need (16, 8) (at (8, 6): 0.936)
        val beam = if (args.length > 2) args(2).toInt else if (n > 50000) 16 else 8
        val hops = if (args.length > 3) args(3).toInt else if (n > 50000) 8 else 6
        val res2 = graft.operators.AnnOps.graphSearchTopKLandmarks(
          pts2, opt.select(col("src"), col("dst")), 100, 5, beam, hops, 2 * cC2.toInt)
        val bad2 = res2.where(pmod(col("qid"), lit(cC2)) =!= pmod(col("node"), lit(cC2))).count()
        require(bad2 == 0, s"$bad2 cross-cluster answers")
        val hits2 = res2.select(col("qid").as("src"), col("node").as("dst"))
          .join(exact5, Seq("src", "dst")).count()
        val recall2 = hits2.toDouble / (100 * 5)
        require(recall2 >= 0.95, s"recall $recall2 on the optimized graph below 0.95")
        s""""mode":"graphopt","n":$n,"edges_in":$nIn,"edges_out":$nOut,"fwd":$nFwd,"recall":$recall2"""
      case "lpa" =>
        // label propagation on a ring of cliques (n/20 cliques of 20, one
        // bridge each): closed form — round 1 labels every clique member
        // min(clique) except the min node itself, round 2 is uniform and
        // stable, and a single bridge vote can never beat the 18-vote
        // in-clique plurality. Self-check: exactly n/20 communities, each
        // of size 20 with label = 20·c.
        val nC = (n / 20L).toInt
        val pairIdx = for (i <- 0 until 20; j <- i + 1 until 20) yield (i, j)
        val pairsLit = typedLit(pairIdx)
        val cliques = spark.range(nC)
          .select(col("id").as("c"), explode(pairsLit).as("p"))
          .select((col("c") * 20 + col("p._1")).as("src"),
            (col("c") * 20 + col("p._2")).as("dst"))
        val bridges = spark.range(nC - 1)
          .select((col("id") * 20 + 19).as("src"), ((col("id") + 1) * 20).as("dst"))
        val labels = graft.operators.GraphOps
          .labelPropagation(cliques.unionByName(bridges), nC * 20L, 3)
          .localCheckpoint(true)
        val comms = labels.groupBy(col("label")).count().localCheckpoint(true)
        val nComm = comms.count()
        require(nComm == nC, s"expected $nC communities, got $nComm")
        val bad = comms.where(col("count") =!= 20 || pmod(col("label"), lit(20L)) =!= 0).count()
        require(bad == 0, s"$bad communities with wrong size/label")
        s""""mode":"lpa","n":${nC * 20L},"edges":${nC * 190L + nC - 1},"communities":$nComm"""
      case "hyperball" =>
        // HyperBall beyond the 256-node oracle fixture: n/20 DISJOINT
        // cliques of 20, so every node's t≥1 ball is exactly 20 — the
        // per-node estimate must sit in the HLL tolerance band around 20
        // and the mean over n/20 independent register draws must land
        // within a few percent (linear-counting regime at load 20/64).
        val nC = (n / 20L).toInt
        val pairIdx = for (i <- 0 until 20; j <- i + 1 until 20) yield (i, j)
        val cliques = spark.range(nC)
          .select(col("id").as("c"), explode(typedLit(pairIdx)).as("p"))
          .select((col("c") * 20 + col("p._1")).as("src"),
            (col("c") * 20 + col("p._2")).as("dst"))
        val est = graft.operators.GraphOps.hyperBall(cliques, 2, 64)
          .localCheckpoint(true)
        val nEst = est.count()
        require(nEst == nC * 20L, s"expected ${nC * 20L} nodes, got $nEst")
        val st = est.agg(avg(col("est")), min(col("est")), max(col("est"))).head()
        val (mean, lo, hi) = (st.getDouble(0), st.getDouble(1), st.getDouble(2))
        require(math.abs(mean - 20.0) / 20.0 < 0.1, s"mean estimate off: $mean")
        require(lo > 10.0 && hi < 40.0, s"per-node band violated: [$lo, $hi]")
        f""""mode":"hyperball","n":${nC * 20L},"edges":${nC * 190L},"mean_est":$mean%.3f,"min_est":$lo%.2f,"max_est":$hi%.2f"""
      case "cg" =>
        // conjugate gradient beyond the 256-node oracle fixture, with a
        // spectral closed form as the oracle: on n/20 DISJOINT 20-cliques,
        // A = L + I has exactly TWO distinct eigenvalues {1, 21}, so CG
        // must converge EXACTLY in 2 iterations (Krylov polynomial of
        // degree 2 annihilates the residual). We run 3 and require the
        // relative residual ≤ 1e-4 (slack only for the 6-decimal output
        // rounding of x) — a loud failure if the distributed SpMV, the
        // scalar dots, or the update algebra are wrong at scale.
        val nC2 = (n / 20L).toInt
        val pairs2 = for (i <- 0 until 20; j <- i + 1 until 20) yield (i, j)
        val cl = spark.range(nC2)
          .select(col("id").as("c"), explode(typedLit(pairs2)).as("p"))
          .select((col("c") * 20 + col("p._1")).as("src"),
            (col("c") * 20 + col("p._2")).as("dst"))
          .localCheckpoint(true)
        val x = graft.operators.SolverOps.conjugateGradient(cl, n, 3)
          .localCheckpoint(true)
        // residual check: r = b − (L+I)x with one more SpMV
        val und = cl.select(col("src").as("u"), col("dst").as("v"))
          .unionByName(cl.select(col("dst").as("u"), col("src").as("v")))
        val nbx = und.join(x.select(col("i").as("v"), col("x").as("xv")), Seq("v"))
          .groupBy(col("u").as("i")).agg(sum(col("xv")).as("sx"))
        val bcol = pmod(graft.operators.TextOps.h32(
          concat_ws(":", col("i"), lit("cg"))), lit(1000L)).cast("double") / 1000.0
        val res = x.join(nbx, Seq("i"), "left")
          .select(col("i"), (bcol - (lit(19.0) + 1.0) * col("x")
            + coalesce(col("sx"), lit(0.0))).as("r"), bcol.as("b"))
          .agg(sqrt(sum(col("r") * col("r"))).as("rn"),
            sqrt(sum(col("b") * col("b"))).as("bn")).head()
        val relres = res.getDouble(0) / res.getDouble(1)
        require(relres < 1e-4, s"CG did not converge in 2 steps: relres=$relres")
        f""""mode":"cg","n":$n,"edges":${nC2 * 190L},"iters":3,"relres":$relres%.2e"""
      case "colranks" =>
        // column ranks + quantile normalization beyond the embeddings
        // fixture: n rows × 8 lanes of xxhash noise (no oracle replay
        // needed — the checks are structural theorems). (1) every column's
        // rank set is exactly 1..n (min/max/count pinned); (2) after
        // quantile normalization every column carries the IDENTICAL
        // reference distribution, so per-column sums agree to float
        // tolerance. Both run off the ONE RankUtils TeraSort pass.
        val dL = 8
        val m = spark.range(n).select(col("id"),
          transform(sequence(lit(0), lit(dL - 1)), j =>
            pmod(xxhash64(col("id"), j, lit("qn")), lit(1000000L))
              .cast("double")).as("vec"))
          .localCheckpoint(true)
        val r3 = graft.operators.MatrixOps.colRanks(m, n)
          .where(col("pos") === 3)
          .agg(min(col("rnk")), max(col("rnk")), count(lit(1))).head()
        require(r3.getLong(0) == 1L && r3.getLong(1) == n && r3.getLong(2) == n,
          s"rank set broken: ${r3.toSeq}")
        val sums = graft.operators.MatrixOps.quantileNormalize(m, n)
          .groupBy(col("pos")).agg(sum(col("qv")).as("s"))
          .collect().map(_.getDouble(1))
        require(sums.length == dL &&
          sums.forall(s => math.abs(s - sums(0)) <= 1e-9 * math.abs(sums(0))),
          s"column distributions diverged: ${sums.toSeq}")
        f""""mode":"colranks","n":$n,"lanes":${n * dL},"col_sum":${sums(0)}%.3f"""
      case "silhouette" =>
        // batched silhouette beyond the n=100 oracle fixture: 10 Gaussian
        // clusters (σ=1) whose centers sit 100·cluster apart in every lane
        // — between-cluster distances dwarf within-cluster ones, so the
        // score must land near 1 (loud failure otherwise). Tiling
        // invariance is checked on a n=1000 prefix: 128-row tiles must
        // reproduce the single-tile (plain-shape) value to the same 6
        // rounded decimals.
        val k = 10L
        val hS = (tag: String, j: org.apache.spark.sql.Column) =>
          (graft.operators.TextOps.h32(concat_ws(":", col("id"), j, lit(42), lit(tag)))
            + lit(0.5)) / lit(4294967296.0)
        val pts = spark.range(n).select(col("id"),
          transform(sequence(lit(0), lit(7)), j =>
            pmod(col("id"), lit(k)).cast("double") * 100.0 +
              sqrt(lit(-2.0) * log(hS("s1", j))) *
                cos(lit(2.0 * math.Pi) * hS("s2", j))).as("vec"),
          pmod(col("id"), lit(k)).as("label")).localCheckpoint(true)
        val sBig = graft.operators.StatsOps.silhouetteBatched(pts, 1024L)
          .collect()(0).getDouble(0)
        require(sBig > 0.9, s"silhouette $sBig on separated clusters — tiling broke the metric")
        val prefix = pts.where(col("id") < 1000).localCheckpoint(true)
        val tiled = graft.operators.StatsOps.silhouetteBatched(prefix, 128L).collect()(0).getDouble(0)
        val single = graft.operators.StatsOps.silhouetteBatched(prefix, 1000L).collect()(0).getDouble(0)
        require(tiled == single, s"tiled $tiled != single-tile $single on the prefix")
        s""""mode":"silhouette","n":$n,"score":$sBig"""
      case "lanefold" =>
        // interpreted-HOF vs fused-kernel lane folds at n·d ≥ 1e7
        // (VERDICT r6 item 7): same metric computed both ways over
        // n rows × 64 lanes; values must agree bit-for-bit (round-10),
        // the timing ratio is the porting evidence for NOTES/SCALE.
        import graft.functions.ArrayLaneMetric
        val d = 64
        val mk = (tag: String) => transform(sequence(lit(0), lit(d - 1)), j =>
          (pmod(graft.operators.TextOps.h32(concat_ws(":", col("id"), j, lit(tag))),
            lit(1000L)).cast("double") - 500.0) / 100.0)
        val pts = spark.range(n).select(col("id"), mk("va").as("va"), mk("vb").as("vb"))
          .localCheckpoint(true)
        pts.count() // materialize
        import graft.operators.DistanceOps
        import graft.functions.ArrayMath
        def time(c: org.apache.spark.sql.Column): (Double, Double) = {
          val t = System.nanoTime()
          val v = pts.agg(sum(c)).collect()(0).getDouble(0)
          ((System.nanoTime() - t) / 1e9, v)
        }
        val pairs = Seq(
          "l1" -> (ArrayMath.l1(ArrayMath.sub(col("va"), col("vb"))),
            ArrayLaneMetric.l1(col("va"), col("vb"))),
          "linf" -> (ArrayMath.linf(ArrayMath.sub(col("va"), col("vb"))),
            ArrayLaneMetric.linf(col("va"), col("vb"))),
          "canberra" -> (DistanceOps.canberra(col("va"), col("vb")),
            ArrayLaneMetric.canberra(col("va"), col("vb"))),
          "mink3" -> (ArrayMath.foldSum(zip_with(col("va"), col("vb"),
              (x, y) => abs(x - y) * abs(x - y) * abs(x - y)), identity),
            ArrayLaneMetric.mink3(col("va"), col("vb"))),
          "hamming" -> (ArrayMath.foldSum(zip_with(col("va"), col("vb"),
              (x, y) => when(x === y, 0.0).otherwise(1.0)), identity),
            ArrayLaneMetric.hamming(col("va"), col("vb"))))
        val rows = pairs.map { case (nm, (hof, fused)) =>
          val (tH, vH) = time(hof)
          val (tF, vF) = time(fused)
          require(math.abs(vH - vF) <= math.abs(vH) * 1e-12,
            s"$nm: HOF $vH != fused $vF")
          f""""$nm":{"hof_sec":$tH%.3f,"fused_sec":$tF%.3f,"speedup":${tH / tF}%.2f}"""
        }
        s""""mode":"lanefold","n":$n,"d":$d,${rows.mkString(",")}"""
      case "trust" =>
        // batched (kNN + τ-ball rank-count) trustworthiness vs the n²
        // full-pairwise baseline, on a clustered 64-d fixture whose first
        // 8 lanes carry the cluster geometry (so emb = slice(vec,1,8) is
        // a locality-preserving but lossy projection — penalty nonzero).
        // Oracle: exact equality of the two forms' rounded scores — the
        // batched path's prune/rank machinery has to reproduce every
        // window-rank of the baseline to match.
        import graft.operators.SpectralOps
        val d = 64
        def lane(l: Int) = {
          val c = pmod(col("id"), lit(97L)) // cluster id
          val center = pmod(c * 31 + lit(l * 17), lit(97L)).cast("double") / 97.0 * 10.0
          val noise = (pmod(xxhash64(col("id"), lit(l), lit("trust")),
            lit(1000000L)).cast("double") + 0.5) / 1000000.0
          center + noise
        }
        val v = spark.range(n)
          .select(col("id"), array((0 until d).map(lane): _*).as("vec"))
          .select(col("id"), col("vec"), expr("slice(vec, 1, 8)").as("emb"))
          .localCheckpoint(true)
        val tB0 = System.nanoTime()
        val tb = SpectralOps.trustworthinessBatchedOn(v).head().getDouble(0)
        val tBatched = (System.nanoTime() - tB0) / 1e9
        if (n <= 20000) {
          // small n: the n² full-pairwise twin is the exact-equality oracle
          val tF0 = System.nanoTime()
          val tf = SpectralOps.trustworthinessFullOn(v).head().getDouble(0)
          val tFull = (System.nanoTime() - tF0) / 1e9
          require(tb == tf, s"batched trustworthiness $tb != full-pairwise $tf")
          f""""mode":"trust","n":$n,"score":$tb,"batched_sec":$tBatched%.1f,"full_sec":$tFull%.1f"""
        } else {
          // big n: the full twin IS the 1e10-pair wall the batched path
          // exists to avoid — so the oracle becomes structural. A
          // rank-preserving embedding (uniform scale of the full vector)
          // cannot create false neighbors, so the score must be EXACTLY
          // 1.0 through the same kNN/prune/rank machinery; the lossy
          // slice-8 score is then reported (gated loosely — the fixture's
          // cluster construction is n-invariant, 0.9776 at 1e4).
          val vLossless = v.select(col("id"), col("vec"),
            expr("transform(vec, x -> x * 2.0)").as("emb")).localCheckpoint(true)
          val tL0 = System.nanoTime()
          val tl = SpectralOps.trustworthinessBatchedOn(vLossless).head().getDouble(0)
          val tLossless = (System.nanoTime() - tL0) / 1e9
          require(tl == 1.0, s"rank-preserving embedding must score exactly 1.0, got $tl")
          require(tb > 0.9 && tb < 1.0, s"lossy slice-8 score out of band: $tb")
          f""""mode":"trust","n":$n,"score":$tb,"batched_sec":$tBatched%.1f,"lossless_score":$tl,"lossless_sec":$tLossless%.1f"""
        }
      case "stream" =>
        // sustained MemoryStream throughput for the stateful streaming
        // operators at a FIXED state budget (VERDICT r8 stretch): n events
        // in 200k-row micro-batches through watermarked dedup, windowed
        // CMS, and the HDR quantile sketch; event time advances 50 ms per
        // event so the 2 h watermark keeps evicting — reported state rows
        // are the horizon's, not the stream's. noop sink = pure pipeline
        // cost, no collection.
        import graft.operators.StreamingOps
        import graft.operators.StreamingOps.Ev
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import org.apache.spark.sql.{DataFrame, Dataset}
        import spark.implicits._
        implicit val sqlCtx = spark.sqlContext
        // SPARK_GRAFT_STATESTORE=rocksdb swaps the state store for the
        // off-heap RocksDB provider (VERDICT r9 stretch): same queries,
        // same bounded-state claim, state no longer on the JVM heap —
        // the provider a 1000-executor deployment runs
        val provider = sys.env.getOrElse("SPARK_GRAFT_STATESTORE", "hdfs")
        if (provider == "rocksdb")
          spark.conf.set("spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val chunk = 200000
        val t0ms = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
        def mkChunk(c0: Long): Seq[Ev] =
          (0 until chunk.toInt).map { q =>
            val i = c0 + q
            // ~10% near-duplicate event_ids (adjacent pair) for the dedup op
            val id = if (i % 10 == 0 && i > 0) i - 1 else i
            Ev(id, new java.sql.Timestamp(t0ms + i * 50L), i % 997L,
              if (i % 3 == 0) "click" else "view", (i % 1000) * 0.01)
          }
        def run(tag: String, mode: String, mk: Dataset[Ev] => DataFrame): String = {
          val input = MemoryStream[Ev]
          val q = mk(input.toDS()).writeStream.outputMode(mode)
            .format("noop").start()
          val t = System.nanoTime()
          var fed = 0L // actual events fed: n rounds UP to a chunk multiple,
                       // so the rate must divide by what actually ran (ADVICE r9)
          try {
            var c0 = 0L
            while (c0 < n) {
              input.addData(mkChunk(c0)); q.processAllAvailable()
              c0 += chunk; fed = c0
            }
          } finally q.stop()
          val sec = (System.nanoTime() - t) / 1e9
          val stateRows = Option(q.lastProgress)
            .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
          f""""$tag":{"events_per_sec":${(fed / sec).toLong},"sec":$sec%.1f,"state_rows":$stateRows}"""
        }
        val r1 = run("dedup", "append", ds => StreamingOps.streamingDedup(ds).toDF())
        val r2 = run("cms", "update", ds => StreamingOps.streamingCms(ds))
        val r3 = run("quantile_sketch", "update",
          ds => StreamingOps.streamingQuantileSketch(ds))
        s""""mode":"stream","state_store":"$provider","n":$n,$r1,$r2,$r3"""
      case "allpairszipf" =>
        // the all-pairs shape the sf fixtures CANNOT show: a zipfian
        // vocabulary (V=10k, s≈1) where idf mass concentrates on rare
        // terms, so the Bayardo prefix index drops the high-df head and
        // the candidate join collapses — prefix should WIN here, unlike
        // the 31-term template fixture where the answer itself is
        // quadratic. Each doc = 30 zipf-drawn words, each written twice
        // (tf=1 terms carry zero reference-formula weight and would
        // vanish). Self-checks auto == prefix, and exact == prefix (small
        // n) or every planted copy found (big n), before reporting.
        import graft.operators.TextOps
        import org.apache.spark.sql.DataFrame
        val v = 10000.0
        def wordsFor(idc: org.apache.spark.sql.Column) =
          transform(sequence(lit(0), lit(29)), j => {
            val u = (pmod(TextOps.h32(concat_ws(":", idc, j, lit("zipf"))),
              lit(1000000L)).cast("double") + 0.5) / 1000000.0
            val r = ceil(pow(lit(v), u)).cast("long")
            concat_ws("", lit("w"), r.cast("string"))
          })
        def text(idc: org.apache.spark.sql.Column) =
          concat_ws(" ", flatten(transform(wordsFor(idc), w => array(w, w))))
        // base corpus + 1% planted exact copies so the ≥0.8 answer (and
        // the exact-vs-prefix equality check) is non-vacuous
        val docs = spark.range(n)
          .select(col("id").as("doc_id"), text(col("id")).as("text"))
          .unionByName(spark.range(n / 100).select((col("id") + n).as("doc_id"),
            text(pmod(col("id") * 97L, lit(n))).as("text")))
          .localCheckpoint(true)
        // phase timer measures build + eager checkpoint (the real work),
        // then the cheap post-checkpoint count
        def phase(tag: String)(f: => DataFrame): (String, DataFrame) = {
          val t = System.nanoTime()
          val df = f.localCheckpoint(true)
          val c = df.count()
          (f""""$tag":{"rows":$c,"sec":${(System.nanoTime() - t) / 1e9}%.3f}""", df)
        }
        val (pe, u0) = phase("entries") { TextOps.tfidfUnit(docs) }
        val (pi, _) = phase("prefix_index") { TextOps.prefixIndex(u0, 0.8) }
        // the dispatch decides: above the 1e6-row stage-1 cutoff
        // (n ≳ 3.7e4) the cost model must pick prefix; below it the probe
        // reports the brute choice
        val before = graft.Instrument.snapshot()
        val (pa, auto) = phase("auto") { TextOps.cosineJoin(docs, 0.8) }
        val snap = graft.Instrument.since(before)
        val uRows = snap.getOrElse("xcos.u_rows", -1L)
        val chose = if (snap.getOrElse("xcos.prefix", 0L) == 1L) "prefix" else "brute"
        require(uRows <= 1000000L || chose == "prefix",
          s"dispatch did not pick prefix above the stage-1 cutoff: $snap")
        val (p2, pruned) = phase("prefix") {
          TextOps.cosineJoin(docs, 0.8, path = TextOps.CosinePath.Prefix) }
        def diffRows(x: DataFrame, y: DataFrame) = x.exceptAll(y).count() + y.exceptAll(x).count()
        val autoDiff = diffRows(auto, pruned)
        require(autoDiff == 0, s"auto != prefix: $autoDiff differing rows")
        val head = s""""mode":"allpairszipf","n_docs":$n,"path":"$chose","u_rows":$uRows,""" +
          s""""brute_est":${snap.getOrElse("xcos.brute_est", -1L)},""" +
          s""""cand_est":${snap.getOrElse("xcos.cand_est", -1L)},$pe,$pi,$pa,$p2"""
        if (n < 50000) {
          // small n: the brute path as the full-equality oracle (the auto
          // leg already ran it when the dispatch chose brute)
          val (p1, exact) = if (chose == "brute") (""""exact":"auto"""", auto)
            else phase("exact") { TextOps.cosineJoin(docs, 0.8, path = TextOps.CosinePath.Brute) }
          val diff = diffRows(exact, pruned)
          require(diff == 0, s"exact != prefix: $diff differing rows")
          s"""$head,$p1,"diff":$diff"""
        } else {
          // big n: the exact leg's Σdf² enumeration spills ~100s of GB at
          // 2e5 docs (measured: filled the disk) — the point of the prefix
          // index is precisely not to pay that. Oracle: Bayardo prefix
          // filtering is EXACT (no recall loss by construction), so every
          // planted copy pair (cos 1.0 ≥ 0.8) MUST be in the output.
          val plantedFound = pruned.join(
            spark.range(n / 100).select(pmod(col("id") * 97L, lit(n)).as("doc_a"),
              (col("id") + n).as("doc_b")), Seq("doc_a", "doc_b"), "left_semi").count()
          require(plantedFound == n / 100,
            s"prefix path missed planted copies: $plantedFound of ${n / 100}")
          s"""$head,"planted_found":$plantedFound"""
        }
      case "xcoszipf" =>
        // cross-corpus cosine (decontamination) twin of allpairszipf
        // (VERDICT r14 item 3): zipfian vocabulary, eval side = 2% of
        // docs (doc_id % 50 == 0). idf mass concentrates on rare terms,
        // so the prefix index drops the high-df head and, above the
        // 1e6-row stage-1 cutoff (n ≳ 4e4), the COST-BASED dispatch must
        // pick the pruned candidate join on its own (xcos.prefix == 1,
        // candEst·16 < bruteEst — both recorded); below it the probe
        // reports the brute choice. The pinned-brute leg at the same n
        // gives the head-to-head and the row-for-row equality check
        // (prefix filtering is lossless).
        import graft.operators.TextOps
        val v = 10000.0
        def wordsFor(idc: org.apache.spark.sql.Column) =
          transform(sequence(lit(0), lit(29)), j => {
            val u = (pmod(TextOps.h32(concat_ws(":", idc, j, lit("zipf"))),
              lit(1000000L)).cast("double") + 0.5) / 1000000.0
            val r = ceil(pow(lit(v), u)).cast("long")
            concat_ws("", lit("w"), r.cast("string"))
          })
        def text(idc: org.apache.spark.sql.Column) =
          concat_ws(" ", flatten(transform(wordsFor(idc), w => array(w, w))))
        // 1% planted copies of eval docs into the train side so the
        // ≥0.8 cross-split answer is non-vacuous
        val docs = spark.range(n)
          .select(col("id").as("doc_id"), text(col("id")).as("text"))
          .unionByName(spark.range(n / 100).select((col("id") + n).as("doc_id"),
            text(pmod(col("id") * 50L, lit(n))).as("text")))
          .localCheckpoint(true)
        val evalPred = pmod(col("doc_id"), lit(50L)) === 0 && col("doc_id") < n
        def leg(path: TextOps.CosinePath) = {
          val before = graft.Instrument.snapshot()
          val t = System.nanoTime()
          val out = TextOps.cosineJoin(docs, 0.8, Some(evalPred), path)
            .localCheckpoint(true)
          val c = out.count()
          (out, c, (System.nanoTime() - t) / 1e9, graft.Instrument.since(before))
        }
        val (auto, nAuto, sAuto, snap) = leg(TextOps.CosinePath.Auto) // the dispatch decides
        val (brute, _, sBrute, _) = leg(TextOps.CosinePath.Brute)
        val diff = auto.exceptAll(brute).count() + brute.exceptAll(auto).count()
        require(diff == 0, s"auto output differs from brute in $diff rows")
        val uRows = snap.getOrElse("xcos.u_rows", -1L)
        val chose = if (snap.getOrElse("xcos.prefix", 0L) == 1L) "prefix" else "brute"
        // below the stage-1 cutoff brute is the designed choice: report it
        require(uRows <= 1000000L || chose == "prefix",
          s"dispatch did not pick prefix above the stage-1 cutoff: $snap")
        s""""mode":"xcoszipf","n_docs":$n,"rows":$nAuto,"path":"$chose","diff":$diff,"sec_auto":$sAuto,"sec_brute":$sBrute,"u_rows":$uRows,"brute_est":${snap.getOrElse("xcos.brute_est", -1L)},"cand_est":${snap.getOrElse("xcos.cand_est", -1L)}"""
      case "lshdedup" =>
        // MinHash-LSH dedup at synthetic-corpus scale: n base docs of 40
        // hash-drawn words (50k vocab), plus two planted duplicate classes
        // per 100 docs — EXACT copies (jac 1.0: every band matches, so the
        // probe REQUIRES 100% of them found) and near copies with one
        // appended word (jac ≈ 0.9: band collision is probabilistic, so
        // recall is REPORTED, the LSH-theory quantity). Random candidate
        // collisions are ~0 at this vocab, so the pair count itself is a
        // structural check.
        import graft.operators.{DedupOps, TextOps}
        def words(idc: org.apache.spark.sql.Column) =
          transform(sequence(lit(0), lit(39)), j => concat_ws("", lit("w"),
            pmod(TextOps.h32(concat_ws(":", idc, j, lit("lshd"))), lit(50000L))
              .cast("string")))
        def text(idc: org.apache.spark.sql.Column) = concat_ws(" ", words(idc))
        val nDup = n / 100
        val base = spark.range(n).select(col("id").as("doc_id"), text(col("id")).as("text"))
        val exactCopies = spark.range(nDup).select((col("id") + n).as("doc_id"),
          text(pmod(col("id") * 31L, lit(n))).as("text"))
        val nearCopies = spark.range(nDup).select((col("id") + n + nDup).as("doc_id"),
          concat(text(pmod(col("id") * 17L, lit(n))), lit(" wtail")).as("text"))
        val docs = base.unionByName(exactCopies).unionByName(nearCopies)
          .localCheckpoint(true)
        val t = System.nanoTime()
        val pairs = DedupOps.minhashDupPairs(docs, 0.7).localCheckpoint(true)
        val nPairs = pairs.count()
        val sec = (System.nanoTime() - t) / 1e9
        val exactFound = pairs.join(
          spark.range(nDup).select(pmod(col("id") * 31L, lit(n)).as("a"),
            (col("id") + n).as("b")), Seq("a", "b"), "left_semi").count()
        val nearFound = pairs.join(
          spark.range(nDup).select(pmod(col("id") * 17L, lit(n)).as("a"),
            (col("id") + n + nDup).as("b")), Seq("a", "b"), "left_semi").count()
        require(exactFound == nDup,
          s"LSH missed exact duplicates: $exactFound of $nDup")
        f""""mode":"lshdedup","n_docs":$n,"pairs":$nPairs,"lsh_sec":$sec%.1f,"exact_found":$exactFound,"near_recall":${nearFound.toDouble / nDup}%.3f"""
      case "zorder" =>
        // z-order WRITE path at n rows: Morton-code the 2-D key, ONE
        // repartitionByRange exchange, parquet out; then the same box
        // filter scans the z-ordered layout vs a hash-partitioned control
        // layout of identical data. Counts must agree EXACTLY (the layout
        // cannot change the answer); the probe reports both scan times and
        // the file count — footer pruning on both dimensions is what the
        // z-layout buys (structure proven in BucketingSpec; this measures
        // the write cost + skip payoff at scale).
        import graft.operators.{Relational, TextOps}
        val k = 65536L
        val rows = spark.range(n).select(col("id"),
          pmod(TextOps.h32(concat_ws(":", col("id"), lit("zx"))), lit(k)).as("x"),
          pmod(TextOps.h32(concat_ws(":", col("id"), lit("zy"))), lit(k)).as("y"))
        val ext = rows.agg(min(col("x")).as("xmin"), max(col("x")).as("xmax"),
          min(col("y")).as("ymin"), max(col("y")).as("ymax"))
        val z = rows.crossJoin(broadcast(ext))
          .select(Relational.zvalue(col("x"), col("y"),
            col("xmin"), col("xmax"), col("ymin"), col("ymax")).as("z"),
            col("id"), col("x"), col("y"))
        val dirZ = s"/tmp/graft_zorder_probe_z"
        val dirH = s"/tmp/graft_zorder_probe_h"
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dirZ))
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dirH))
        val tW = System.nanoTime()
        z.repartitionByRange(256, col("z")).sortWithinPartitions("z")
          .drop("z").write.parquet(dirZ)
        val writeSec = (System.nanoTime() - tW) / 1e9
        rows.repartition(256).write.parquet(dirH)
        val nFiles = new java.io.File(dirZ).listFiles()
          .count(_.getName.endsWith(".parquet"))
        def boxCount(dir: String): (Long, Double) = {
          // warm once (footer cache, codegen), then time the best of 3 —
          // the quantity of interest is steady-state scan cost per layout
          def once(): (Long, Double) = {
            val t = System.nanoTime()
            val c = spark.read.parquet(dir)
              .where(col("x").between(1000, 3000) && col("y").between(2000, 4000))
              .count()
            (c, (System.nanoTime() - t) / 1e9)
          }
          once()
          val runs = Seq(once(), once(), once())
          (runs.head._1, runs.map(_._2).min)
        }
        val (cz, tz) = boxCount(dirZ)
        val (ch, th) = boxCount(dirH)
        require(cz == ch, s"layout changed the answer: $cz != $ch")
        f""""mode":"zorder","n":$n,"write_sec":$writeSec%.1f,"files":$nFiles,"box_rows":$cz,"scan_sec_zorder":$tz%.2f,"scan_sec_hash":$th%.2f"""
      case "colkernel" =>
        // the accelerator seam's payoff head-to-head (VERDICT r10 item 2):
        // one parquet fixture (n rows × 64 float lanes), the same rounded
        // dot-product projection consumed END-TO-END via toRdd (no
        // pruning, no aggregate collapse) — once in THIS session, where
        // GraftDotKernelExec consumes the vectorized reader's
        // ColumnarBatches directly, and once in a bare extension-free
        // session (ColumnarToRow → whole-stage-codegen ArrayDot row
        // path). Exact integer checksums must agree; best-of-3 each after
        // a warm pass, kernel/row attribution proven by Instrument.
        val dir = "/tmp/graft_colkernel_probe"
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
        spark.range(n).select(col("id"),
          transform(sequence(lit(0), lit(63)),
            j => (pmod(xxhash64(col("id"), j), lit(1000)).cast("double") / 1000.0)
              .cast("float")).as("embedding"))
          .write.parquet(dir)
        val w = array((0 until 64).map(j => lit(((j * 37) % 97) / 97.0)): _*)
        // optional 3rd arg picks the kernel shape (VERDICT r11 item 5 —
        // the seam carries a FAMILY now): dot (default) | l2q (squared-L2
        // to a literal query point) | normsq (unary sum of squares)
        val shape = if (args.length > 2) args(2) else "dot"
        def dotQuery(s: SparkSession) = s.read.parquet(dir)
          .select(col("id"), round(shape match {
            case "dot" => graft.functions.ArrayDot.dot(
              col("embedding").cast("array<double>"), w)
            case "l2q" => graft.functions.ArrayL2Sq.l2sq(
              col("embedding").cast("array<double>"), w)
            case "normsq" => graft.functions.ArrayNormSq.normSq(
              col("embedding").cast("array<double>"))
            case o => sys.error(s"unknown colkernel shape $o")
          }, 4).as("y"))
        def consume(s: SparkSession): (Long, Double) = {
          val t = System.nanoTime()
          val sum = dotQuery(s).queryExecution.toRdd.map { r =>
            if (r.isNullAt(1)) 0L else math.round(r.getDouble(1) * 10000)
          }.reduce(_ + _)
          (sum, (System.nanoTime() - t) / 1e9)
        }
        def bestOf3(s: SparkSession): (Long, Double) = {
          consume(s) // warm: page cache, codegen, JIT
          val runs = Seq(consume(s), consume(s), consume(s))
          require(runs.map(_._1).distinct.length == 1, s"nondeterministic checksum: $runs")
          (runs.head._1, runs.map(_._2).min)
        }
        val (ckK, secK) = bestOf3(spark)
        // attribution via the exec node's SQLMetrics — accumulator-backed,
        // so it holds under SPARK_GRAFT_MASTER=local-cluster too, where
        // the Instrument counters stay in executor JVMs (ADVICE r11)
        val qeK = dotQuery(spark).queryExecution
        val kNode = qeK.executedPlan.collectFirst {
          case g: graft.plans.GraftDotKernelExec => g
        }.getOrElse(sys.error("kernel session never planned GraftDotKernelExec"))
        qeK.toRdd.count()
        require(kNode.metrics("numBatches").value > 0,
          "kernel session never crossed GraftDotKernelExec")
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        val bare = SparkSession.builder()
          // same master as the kernel session (incl. local-cluster) so the
          // row/kernel comparison shares executors and serialization
          .master(spark.sparkContext.master)
          .config("spark.sql.shuffle.partitions", GraftSession.mainCores.toString)
          .config("spark.ui.enabled", "false")
          .getOrCreate()
        val (ckR, secR) = bestOf3(bare)
        require(dotQuery(bare).queryExecution.executedPlan.collectFirst {
          case g: graft.plans.GraftDotKernelExec => g
        }.isEmpty, "bare session must take the row path")
        require(ckK == ckR, s"kernel checksum $ckK != row checksum $ckR")
        SparkSession.setDefaultSession(spark)
        SparkSession.setActiveSession(spark)
        f""""mode":"colkernel","shape":"$shape","n":$n,"checksum":$ckK,"sec_kernel":$secK%.2f,"sec_row":$secR%.2f,"speedup":${secR / secK}%.2f"""
      case "phash" =>
        // band-width knob probe (VERDICT r10 task 8): candidate volume vs
        // planted recall at the three supported widths. n docs, every
        // even/odd id pair is a planted near-dup (odd = one leading-char
        // edit of even — the one-lane perturbation PipelineSpec pins);
        // distinct (id/2) suffixes make unrelated docs draw independent
        // hashes. Candidates = the τ=64 result (every band-bucket pair
        // survives the confirm), recall = planted pairs found at τ=6.
        val nDocs = n.toInt
        // per-PAIR pseudo-random text (21 distinct md5 hex blocks, 672
        // ASCII chars): unrelated docs draw independent luma grids, so
        // band collisions measure the real n²/2^bandBits term — a shared
        // base text makes every hash near-equal and every pair a
        // candidate at every width (the degenerate first cut of this
        // probe). Odd ids are a 1-char edit of their even partner.
        val docsDf = spark.range(nDocs).select(col("id").as("doc_id"),
          concat((0 until 21).map(s =>
            // id div 2: INTEGER division — `/` is double division in
            // Spark, which would seed even/odd partners differently
            md5(concat(expr("id div 2").cast("string"), lit(s"salt$s")))): _*)
            .as("text0"))
          .select(col("doc_id"),
            // odd = ±1 code-point edit of its even partner: the text
            // cycles ~9x across the pixel buffer, so a large edit (the
            // spec's "Q") lands 9 scattered grid perturbations and stops
            // being a near-dup at all; a delta-1 char keeps every lane
            // mean within noise of the median gap -> planted hamming ~0-3
            when(pmod(col("doc_id"), lit(2)) === 1,
              concat(expr("char(ascii(substring(text0, 1, 1)) + 1)"),
                expr("substring(text0, 2)")))
              .otherwise(col("text0")).as("text"),
            lit("s").as("source"))
          .localCheckpoint(true)
        val planted = nDocs / 2
        // recall = CANDIDATE recall of the planted pairs (the only thing
        // the band knob affects — the popcount confirm is exact); τ=64
        // keeps every candidate in the output. Band refinement gives the
        // theorem check: a 16-bit band match implies both 8-bit halves
        // match, so candidates(b2) ⊆ candidates(b4) ⊆ candidates(b8)
        // must hold as counts AND recalls.
        def widthRun(nb: Int): (Long, Long, Double) = {
          val t = System.nanoTime()
          val pairs = graft.operators.MultimodalOps
            .phashNearDups(docsDf, 64, nb).localCheckpoint(true)
          val cand = pairs.count()
          val hit = pairs.where(col("b") === col("a") + 1 &&
            pmod(col("a"), lit(2)) === 0).count()
          (cand, hit, (System.nanoTime() - t) / 1e9)
        }
        val (c2, h2, t2) = widthRun(2)
        val (c4, h4, t4) = widthRun(4)
        val (c8, h8, t8) = widthRun(8)
        require(c2 <= c4 && c4 <= c8 && h2 <= h4 && h4 <= h8,
          s"band refinement monotonicity broken: cand $c2/$c4/$c8 hit $h2/$h4/$h8")
        f""""mode":"phash","n":$nDocs,"planted":$planted,"cand_b2":$c2,"recall_b2":${h2.toDouble / planted}%.3f,"sec_b2":$t2%.1f,"cand_b4":$c4,"recall_b4":${h4.toDouble / planted}%.3f,"sec_b4":$t4%.1f,"cand_b8":$c8,"recall_b8":${h8.toDouble / planted}%.3f,"sec_b8":$t8%.1f"""
      case other => sys.error(s"unknown mode $other (lap | eigsh | ballcover | graphann | graphopt | lpa | hyperball | silhouette | lanefold | allpairszipf | xcoszipf | lshdedup | zorder | stream | trust | cg | colranks | colkernel | phash)")
    }
    val dt = (System.nanoTime() - t0) / 1e9
    // drain the listener bus before snapshotting the shuffle counters — a
    // fixed sleep can drop late StageCompleted events on a loaded host and
    // undercount exchanges (ADVICE r10). listenerBus is private[spark];
    // its accessor is public at the bytecode level, so go via reflection.
    try {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus")
        .invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Throwable => Thread.sleep(500) }
    val sh = s""""shuffle_stages":${shuffleStages.get},"shuffle_write_mb":${shuffleBytes.get / (1024 * 1024)}"""
    // all Instrument counters ride along (r15): probes of counter-
    // instrumented operators (eigsh step split, LAP phases) report their
    // attribution without a bench run. Multi-leg modes read each leg as
    // Instrument.since(snapshot), so these totals cover every leg.
    val counters = graft.Instrument.snapshot().toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"probe":{$result,$sh,"sec":$dt,"counters":$counters}}""")
    spark.stop()
  }
}
