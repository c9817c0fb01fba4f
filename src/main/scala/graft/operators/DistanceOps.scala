package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.ArrayMath

/** Pairwise-distance primitives and the neighborhood graphs built from
  * them. The reference keeps pairwise distance + select_k as its core
  * primitives (its packaged ANN moved to cuVS); these are the
  * corresponding Spark shapes plus the graphs an ML pipeline derives from
  * them: epsilon-neighborhood (degree/adjacency), symmetric kNN graph
  * (UMAP/HDBSCAN input), and mutual-reachability single-linkage
  * (HDBSCAN's core construction: core distance -> max(core_a, core_b,
  * d_ab) -> MST -> cut).
  *
  * Scale shape: every exact all-pairs form here is a *bounded, documented
  * oracle baseline* (`maxId` caps the block). The 100 TB path swaps the
  * pair generator for the LSH/IVF candidate equi-joins (AnnOps.lshTopK,
  * ClusterOps.ivfTopK) and feeds the identical per-pair metric
  * expressions and downstream MST/CC machinery — the metric layer and the
  * graph layer are independent of how candidate pairs were produced.
  */
object DistanceOps {

  /** Squared L2 distance between two lane arrays (strict fold — the same
    * expression both engines evaluate lane-by-lane). Written in the
    * canonical aggregate(zip_with) shape so the L2Sq fusion rule
    * (GraftExtensions) swaps in the codegen'd ArrayL2Sq on extended
    * sessions — declarative here, fused kernel in the executed plan. */
  def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)

  /** Canberra distance: sum |a-b| / (|a|+|b|), 0/0 lanes contribute 0 —
    * the zero-guard convention of the classic metric. */
  def canberra(a: Column, b: Column): Column =
    ArrayMath.foldSum(
      zip_with(a, b, (x, y) =>
        when(abs(x) + abs(y) =!= 0.0, abs(x - y) / (abs(x) + abs(y)))
          .otherwise(0.0)),
      identity)

  /** Pairwise metric suite over the bounded block id < maxId (a < b):
    * L1, L2, Chebyshev (L-inf), Canberra, cosine, correlation distance,
    * Bray-Curtis, Minkowski (p=3), and Hamming — one row per pair with
    * every metric as a column (the classic distance-type enum of the
    * reference family; the probability-simplex metrics — Hellinger, JS,
    * KL — live in StatsOps where inputs are genuine distributions).
    * Exact baseline; candidates-from-LSH is the scale path (see object
    * doc). Every metric is a strict fold so the oracle matches
    * lane-by-lane. */
  def pairwiseMetrics(vectors: DataFrame, maxId: Int): DataFrame = {
    val a = vectors.where(col("id") < maxId)
      .select(col("id").as("a"), col("vec").as("va"))
    val b = vectors.where(col("id") < maxId)
      .select(col("id").as("b"), col("vec").as("vb"))
    val n = size(col("va")).cast("double")
    val sa = ArrayMath.foldSum(col("va"), identity)
    val sb = ArrayMath.foldSum(col("vb"), identity)
    val sab = ArrayMath.dot(col("va"), col("vb"))
    val saa = ArrayMath.dot(col("va"), col("va"))
    val sbb = ArrayMath.dot(col("vb"), col("vb"))
    val corrDenom = sqrt(n * saa - sa * sa) * sqrt(n * sbb - sb * sb)
    val corrDist = when(corrDenom =!= 0.0,
      lit(1.0) - (n * sab - sa * sb) / corrDenom).otherwise(0.0)
    // fused native lane folds (ArrayLaneMetric) — bit-identical to the
    // declarative HOF twins (pinned in ArrayKernelProps), one codegen'd
    // loop per metric instead of an interpreted zip_with + fold pair
    import graft.functions.ArrayLaneMetric
    val brayDenom = ArrayLaneMetric.abssum(col("va"), col("vb"))
    val bray = when(brayDenom =!= 0.0,
      ArrayLaneMetric.l1(col("va"), col("vb")) / brayDenom).otherwise(0.0)
    val mink3 = cbrt(ArrayLaneMetric.mink3(col("va"), col("vb")))
    val hamming = ArrayLaneMetric.hamming(col("va"), col("vb")) / n
    a.join(b, col("a") < col("b"))
      .select(col("a"), col("b"),
        (round(ArrayLaneMetric.l1(col("va"), col("vb")), 4) + 0.0).as("l1"),
        (round(sqrt(l2sq(col("va"), col("vb"))), 4) + 0.0).as("l2"),
        (round(ArrayLaneMetric.linf(col("va"), col("vb")), 4) + 0.0).as("linf"),
        (round(ArrayLaneMetric.canberra(col("va"), col("vb")), 4) + 0.0).as("canberra"),
        (round(ArrayMath.cosine(col("va"), col("vb")), 4) + 0.0).as("cos"),
        (round(corrDist, 4) + 0.0).as("corr"),
        (round(bray, 4) + 0.0).as("bray"),
        (round(mink3, 4) + 0.0).as("mink3"),
        (round(hamming, 4) + 0.0).as("hamming"))
  }

  /** The remaining rows of the reference's DistanceType enum (the
    * historical raft/distance distance_types surface) not covered by
    * [[pairwiseMetrics]]: inner product; KL divergence, Jensen-Shannon
    * and Hellinger over the DERIVED probability simplex p_i = |v_i|/Σ|v|
    * (the fixture embeddings are signed, so the simplex lift is part of
    * the declared transform — computed identically in the oracle);
    * Jaccard, Dice and Russell-Rao over the derived binary mask
    * v_i > 0 (the "expanded" binary forms); and Haversine over the first
    * two lanes scaled to radians. Same bounded exact-baseline block
    * shape as [[pairwiseMetrics]]; every metric is a strict lane fold.
    */
  def pairwiseMetrics2(vectors: DataFrame, maxId: Int): DataFrame = {
    val a = vectors.where(col("id") < maxId)
      .select(col("id").as("a"), col("vec").as("va"))
    val b = vectors.where(col("id") < maxId)
      .select(col("id").as("b"), col("vec").as("vb"))
    val n = size(col("va")).cast("double")
    val la = ArrayMath.l1(col("va"))
    val lb = ArrayMath.l1(col("vb"))
    def probFold(f: (Column, Column) => Column): Column =
      ArrayMath.foldSum(zip_with(col("va"), col("vb"),
        (x, y) => f(abs(x) / la, abs(y) / lb)), identity)
    val kl = probFold((p, q) =>
      when((p > 0.0) && (q > 0.0), p * log(p / q)).otherwise(0.0))
    val jsSum = probFold { (p, q) =>
      val m = (p + q) / 2.0
      when((p > 0.0) && (m > 0.0), p * log(p / m)).otherwise(0.0) +
        when((q > 0.0) && (m > 0.0), q * log(q / m)).otherwise(0.0)
    }
    val js = sqrt(jsSum / 2.0)
    val hellinger =
      sqrt(greatest(lit(0.0), lit(1.0) - probFold((p, q) => sqrt(p * q))))
    val ip = ArrayMath.dot(col("va"), col("vb"))
    val ca = ArrayMath.foldSum(col("va"),
      x => when(x > 0.0, 1.0).otherwise(0.0))
    val cb = ArrayMath.foldSum(col("vb"),
      x => when(x > 0.0, 1.0).otherwise(0.0))
    val both = ArrayMath.foldSum(zip_with(col("va"), col("vb"),
      (x, y) => when((x > 0.0) && (y > 0.0), 1.0).otherwise(0.0)), identity)
    val jaccard = when(ca + cb - both =!= 0.0,
      lit(1.0) - both / (ca + cb - both)).otherwise(0.0)
    val dice = when(ca + cb =!= 0.0,
      lit(1.0) - lit(2.0) * both / (ca + cb)).otherwise(0.0)
    val russellrao = (n - both) / n
    def lane(v: Column, i: Int): Column = element_at(v, i) / 10.0
    val (latA, lonA) = (lane(col("va"), 1), lane(col("va"), 2))
    val (latB, lonB) = (lane(col("vb"), 1), lane(col("vb"), 2))
    val sLat = sin((latA - latB) / 2.0)
    val sLon = sin((lonA - lonB) / 2.0)
    val haversine = lit(2.0) * asin(sqrt(
      sLat * sLat + cos(latA) * cos(latB) * sLon * sLon))
    a.join(b, col("a") < col("b"))
      .select(col("a"), col("b"),
        (round(ip, 4) + 0.0).as("ip"),
        (round(kl, 4) + 0.0).as("kl"),
        (round(js, 4) + 0.0).as("js"),
        (round(hellinger, 4) + 0.0).as("hellinger"),
        (round(jaccard, 4) + 0.0).as("jaccard"),
        (round(dice, 4) + 0.0).as("dice"),
        (round(russellrao, 4) + 0.0).as("russellrao"),
        (round(haversine, 4) + 0.0).as("haversine"))
  }

  /** Epsilon-neighborhood degree: for each point, how many points (self
    * included — the adjacency diagonal is true) lie within squared L2
    * distance eps2. Exact over the bounded block; at scale the same count
    * runs over LSH/IVF candidates only. */
  def epsNeighborhood(vectors: DataFrame, eps2: Double): DataFrame = {
    val a = vectors.select(col("id").as("a"), col("vec").as("va"))
    val b = vectors.select(col("id").as("b"), col("vec").as("vb"))
    a.join(b, l2sq(col("va"), col("vb")) <= eps2)
      .groupBy(col("a").as("id")).agg(count(lit(1)).as("deg"))
      .select(col("id"), col("deg"))
  }

  /** Symmetric kNN graph: directed top-k edges by ascending L2 (ties by
    * dst), symmetrized with a `mutual` flag (dst also has src in ITS
    * top-k) — the neighbor graph UMAP/HDBSCAN consume. */
  def knnGraph(vectors: DataFrame, k: Int): DataFrame = {
    val a = vectors.select(col("id").as("src"), col("vec").as("va"))
    val b = vectors.select(col("id").as("dst"), col("vec").as("vb"))
    val w = Window.partitionBy(col("src")).orderBy(col("d2").asc, col("dst").asc)
    val directed = a.join(b, col("src") =!= col("dst"))
      .select(col("src"), col("dst"), l2sq(col("va"), col("vb")).as("d2"))
      .withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select(col("src"), col("dst"), col("d2"), col("rnk"))
    val rev = directed.select(col("dst").as("src"), col("src").as("dst"))
      .withColumn("m", lit(1))
    directed.join(rev, Seq("src", "dst"), "left")
      .select(col("src"), col("dst"), (round(sqrt(col("d2")), 4) + 0.0).as("dist"),
        col("rnk"), coalesce(col("m"), lit(0)).as("mutual"))
  }

  /** Core distance (HDBSCAN): distance to the kCore-th nearest neighbor
    * (self excluded). */
  def coreDistances(vectors: DataFrame, kCore: Int): DataFrame = {
    val a = vectors.select(col("id").as("a"), col("vec").as("va"))
    val b = vectors.select(col("id").as("b"), col("vec").as("vb"))
    val w = Window.partitionBy(col("a")).orderBy(col("d2").asc, col("b").asc)
    a.join(b, col("a") =!= col("b"))
      .select(col("a"), col("b"), l2sq(col("va"), col("vb")).as("d2"))
      .withColumn("rnk", row_number().over(w)).where(col("rnk") === kCore)
      .select(col("a").as("id"), sqrt(col("d2")).as("core"))
  }

  /** NN-descent kNN-graph construction (Dong et al. 2011 — the
    * construction modern ANN stacks ship as nn_descent): start from a
    * deterministic hash-random k-neighbor graph, then each round proposes
    * candidates = neighbors-of-neighbors over the UNDIRECTED current
    * graph and keeps each node's top-k by distance. Every round is one
    * self-join on the edge list + one distance attach + a per-node
    * window top-k — candidate volume is O(n·k²) per round and no
    * all-pairs stage ever materializes, which is the whole point at
    * 100 TB: the exact graph emerges from local moves. Converges to the
    * exact kNN graph on clustered data in a few rounds (DistanceSpec
    * measures recall; the driver query runs on the separated-blobs
    * fixture where convergence is exact and the oracle is the direct
    * SQL kNN). */
  def nnDescent(vectors: DataFrame, k: Int, rounds: Int, seed: Long = 7): DataFrame = {
    import graft.operators.TextOps.h32
    val n = vectors.count()
    graft.LoopPolicy.scope(vectors.sparkSession, Some(n), stepped = true) { _ =>
    def attach(cand: DataFrame): DataFrame =
      cand.join(vectors.select(col("id").as("src"), col("vec").as("va")), Seq("src"))
        .join(vectors.select(col("id").as("dst"), col("vec").as("vb")), Seq("dst"))
        .select(col("src"), col("dst"), l2sq(col("va"), col("vb")).as("d2"))
    def topk(scored: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("src")).orderBy(col("d2").asc, col("dst").asc)
      scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
        .select(col("src"), col("dst"), col("d2"), col("rnk"))
    }
    // order-independent edge-set checksum (xor of row hashes — edges are
    // distinct, so nothing self-cancels): identical graph ⇒ identical
    // checksum, so an unchanged round proves the fixpoint and every later
    // round would be a no-op — stop (the early-termination knob of the
    // published algorithm; a 64-bit collision is ~2^-64 per round)
    def checksum(g: DataFrame): Long =
      g.select(xxhash64(col("src"), col("dst")).as("h"))
        .agg(expr("bit_xor(h)")).head().getLong(0)
    val init = vectors.select(col("id").as("src"),
        explode(transform(sequence(lit(1), lit(k)), j =>
          pmod(h32(concat_ws(":", col("id"), j, lit(seed))), lit(n)))).as("dst"))
      .where(col("src") =!= col("dst")).distinct()
    var graph = topk(attach(init)).localCheckpoint(true)
    var prev = checksum(graph)
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      val und = graph.select(col("src"), col("dst"))
        .unionByName(graph.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val nofn = und.select(col("src"), col("dst").as("mid"))
        .join(und.select(col("src").as("mid"), col("dst")), Seq("mid"))
        .where(col("src") =!= col("dst"))
        .select(col("src"), col("dst"))
      val cand = nofn.unionByName(graph.select(col("src"), col("dst"))).distinct()
      graph = topk(attach(cand)).localCheckpoint(true)
      val cur = checksum(graph)
      converged = cur == prev
      prev = cur
      r += 1
    }
    graph.select(col("src"), col("dst"),
      (round(sqrt(col("d2")), 4) + 0.0).as("dist"), col("rnk"))
    }
  }

  /** DBSCAN flat clustering composed from the primitives the reference
    * ships (eps-neighborhood counts + merge_labels connected components,
    * label/merge_labels.cuh:47): core points have ≥ minPts neighbors
    * within eps (self included), clusters are the connected components of
    * the core-core eps-graph, border points adopt the smallest cluster
    * label among their core eps-neighbors, and everything else is noise
    * (cluster −1). The eps-pair join is the bounded exact baseline; at
    * 100 TB the identical core/border/CC machinery consumes LSH/IVF
    * candidate pairs instead (the metric layer is independent of how
    * pairs were produced — object doc). Deterministic labels: cluster =
    * min member id of the component; border ties break to the min label.
    * Returns (id, cluster, is_core). */
  /** Half-open eps-pair table (a < b) — the exact pair generator
    * [[dbscan]] consumes. At scale, swap this for the LSH/IVF candidate
    * join filtered by the same predicate and feed [[dbscanFromPairs]]:
    * the clustering machinery is independent of pair generation. */
  def epsPairs(points: DataFrame, eps: Double): DataFrame = {
    val a = points.select(col("id").as("a"), col("vec").as("va"))
    val b = points.select(col("id").as("b"), col("vec").as("vb"))
    a.join(b, col("a") < col("b") && l2sq(col("va"), col("vb")) <= eps * eps)
      .select(col("a"), col("b"))
  }

  def dbscan(points: DataFrame, eps: Double, minPts: Int): DataFrame =
    dbscanFromPairs(points, epsPairs(points, eps), minPts)

  /** Core/border/noise + components over an arbitrary half-open
    * (a < b) within-eps pair table (exact or candidate-generated).
    * The staged aggregates/joins run in a [[graft.LoopPolicy]] scope
    * sized by the point count (fixture-size runs must not schedule
    * full-width waves per stage; at scale the width is the real one). */
  def dbscanFromPairs(points: DataFrame, pairs: DataFrame,
      minPts: Int): DataFrame =
    graft.LoopPolicy.scope(points.sparkSession, Some(points.count()), stepped = true) { _ =>
    val half = pairs.localCheckpoint(true)
    val sym = half.unionByName(half.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy(col("a").as("id")).agg(count(lit(1)).as("deg"))
    val core = deg.where(col("deg") + 1 >= minPts).select(col("id"))
      .localCheckpoint(true)
    val coreEdges = sym
      .join(core.select(col("id").as("a")), Seq("a"))
      .join(core.select(col("id").as("b")), Seq("b"))
      .select(col("a").as("src"), col("b").as("dst"))
    val comp = LabelOps.connectedComponents(coreEdges)
    // a core point with no core neighbor is its own singleton cluster
    val coreLabeled = core.join(comp, core("id") === comp("node"), "left")
      .select(core("id"), coalesce(col("comp"), core("id")).cast("long").as("cluster"),
        lit(1).as("is_core"))
    val borderCand = sym.join(core.select(col("id").as("b")), Seq("b"))
      .join(coreLabeled.select(col("id").as("b"), col("cluster")), Seq("b"))
      .groupBy(col("a").as("id")).agg(min(col("cluster")).as("cl"))
    val nonCore = points.select(col("id")).join(core, Seq("id"), "left_anti")
    val rest = nonCore.join(borderCand, Seq("id"), "left")
      .select(col("id"), coalesce(col("cl"), lit(-1L)).as("cluster"),
        lit(0).as("is_core"))
    coreLabeled.unionByName(rest).localCheckpoint(true)
  }

  /** Mutual-reachability single-linkage (the HDBSCAN construction,
    * reference ecosystem: cluster/single_linkage.cuh:37 generalized with
    * core distances): d_mr(a,b) = max(core_a, core_b, d(a,b)), then the
    * already-distributed MST + cut + connected-components pipeline
    * produces k flat clusters. The pair-distance table is computed ONCE
    * and checkpointed — core distances rank its symmetrized form (same
    * values/ties as [[coreDistances]], which pays a second all-pairs
    * pass when called standalone). Returns (node, comp). */
  def mutualReachabilityLinkage(vectors: DataFrame, kCore: Int, k: Int): DataFrame = {
    graft.LoopPolicy.scope(vectors.sparkSession, Some(vectors.count()), stepped = true) { _ =>
    val a = vectors.select(col("id").as("src"), col("vec").as("va"))
    val b = vectors.select(col("id").as("dst"), col("vec").as("vb"))
    val pairs = a.join(b, col("src") < col("dst"))
      .select(col("src"), col("dst"), sqrt(l2sq(col("va"), col("vb"))).as("d"))
      .localCheckpoint(true)
    val sym = pairs.select(col("src").as("id"), col("dst").as("nb"), col("d"))
      .unionByName(pairs.select(col("dst").as("id"), col("src").as("nb"), col("d")))
    val w = Window.partitionBy(col("id")).orderBy(col("d").asc, col("nb").asc)
    val core = sym.withColumn("rnk", row_number().over(w)).where(col("rnk") === kCore)
      .select(col("id"), col("d").as("core"))
    val mrd = pairs
      .join(core.select(col("id").as("src"), col("core").as("ca")), Seq("src"))
      .join(core.select(col("id").as("dst"), col("core").as("cb")), Seq("dst"))
      .select(col("src"), col("dst"),
        greatest(col("d"), col("ca"), col("cb")).as("value"))
    // materialize inside the LoopPolicy scope — the MST/cut stages must
    // run at the loop width, not the restored session width
    SolverOps.singleLinkage(mrd, k).localCheckpoint(true)
    }
  }

  /** Landmark-pruned EXACT kNN graph — the random-ball-cover scale path
    * (Cayton 2012) for the all-pairs forms above, built from the same
    * primitives the reference composes for this job (pairwise distance +
    * select_k; masks/landmarks are the pruning structure). Returns the
    * IDENTICAL result to brute-force kNN — pruning is by the triangle
    * inequality, never approximation:
    *
    *  1. L deterministic landmarks (lowest ids); every point joins the
    *     broadcast landmark set once → d(x, l) for all l (n×L rows, the
    *     RBC cost — L ≈ √n makes it n^1.5, not n²).
    *  2. cell(x) = argmin_l d(x,l); per-cell radius r_l = max d(x,l).
    *  3. Phase 1: top-k inside the own cell only (co-partitioned
    *     equi-join on cell, bounded-heap TopKAgg) → upper bound τ_x =
    *     kth own-cell distance (+∞ if the cell holds < k neighbors —
    *     such queries fall back to scanning every cell, still exact).
    *  4. Phase 2: cell l can contain a better neighbor only if
    *     d(x,l) − r_l ≤ τ_x (triangle inequality); scan exactly the
    *     surviving cells (equi-join on cell) and take the global top-k.
    *
    * Shuffles: one n×L broadcast join, two cell-keyed equi-joins, two
    * bounded-state aggregates — no n² anywhere. A 1e-9 slack on the
    * pruning bound keeps float rounding from dropping an exact tie.
    * Returns (src, dst, dist, rnk). */
  def ballCoverKnn(vectors: DataFrame, k: Int, numLandmarks: Int): DataFrame = {
    import graft.functions.TopKAgg
    val candPairs = ballCoverCandidates(vectors, k, numLandmarks)
    candPairs.groupBy(col("src"))
      .agg(TopKAgg.topKMin(col("d"), col("dst"), k).as("flat"))
      .select(col("src"), explode(TopKAgg.decodeTopK(col("flat"))).as("e"))
      // rank on the UNROUNDED distance (the aggregator's own (c, j) order)
      // so ties land exactly where the oracle's row_number puts them
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("e.c").asc, col("e.j").asc)))
      .select(col("src"), col("e.j").as("dst"),
        (round(col("e.c"), 4) + 0.0).as("dist"), col("rnk"))
  }

  /** Epsilon-neighborhood degree via the same landmark-cell pruning as
    * [[ballCoverKnn]] — the exact scale path for [[epsNeighborhood]]'s
    * all-pairs baseline. Range search needs no τ phase: cell l can hold
    * a point within eps of q only if d(q,l) − r_l ≤ eps (triangle
    * inequality), so candidates are exactly the surviving (q, cell)
    * joins. Identical output to the baseline (self included via the
    * query's own cell). */
  def epsNeighborhoodBallCover(vectors: DataFrame, eps2: Double,
      numLandmarks: Int): DataFrame = {
    val eps = math.sqrt(eps2)
    val pts = vectors.select(col("id"), col("vec"))
    val lms = pts.where(col("id") < numLandmarks)
      .select(col("id").as("lid"), col("vec").as("lvec"))
    val pl = pts.crossJoin(broadcast(lms))
      .select(col("id"), col("lid"), sqrt(l2sq(col("vec"), col("lvec"))).as("dl"))
      .localCheckpoint(true)
    val assign = pl.groupBy(col("id"))
      .agg(min(struct(col("dl"), col("lid"))).as("m"))
      .select(col("id"), col("m.lid").as("cell"), col("m.dl").as("dcell"))
    val cells = pts.join(assign, Seq("id")).localCheckpoint(true)
    val radii = cells.groupBy(col("cell")).agg(max(col("dcell")).as("radius"))
    val candCells = pl
      .join(radii.withColumnRenamed("cell", "lid"), Seq("lid"))
      .where(col("dl") - col("radius") <= eps + 1e-9)
      .select(col("id").as("a"), col("lid").as("cell"))
    candCells
      .join(cells.select(col("cell"), col("id").as("b"), col("vec").as("vb")), Seq("cell"))
      .join(pts.select(col("id").as("a"), col("vec").as("va")), Seq("a"))
      .where(l2sq(col("va"), col("vb")) <= eps2)
      .groupBy(col("a").as("id")).agg(count(lit(1)).as("deg"))
      .select(col("id"), col("deg"))
  }

  /** The surviving (src, dst, d) candidate pairs of [[ballCoverKnn]]'s
    * triangle-inequality prune — exposed so specs/scale probes can count
    * them against the n² a brute-force scan would generate. */
  def ballCoverCandidates(vectors: DataFrame, k: Int, numLandmarks: Int): DataFrame = {
    import graft.functions.TopKAgg
    val pts = vectors.select(col("id"), col("vec"))
    val lms = pts.where(col("id") < numLandmarks)
      .select(col("id").as("lid"), col("vec").as("lvec"))
    // d(x, l) for every point × landmark — reused for assignment and pruning
    val pl = pts.crossJoin(broadcast(lms))
      .select(col("id"), col("lid"), sqrt(l2sq(col("vec"), col("lvec"))).as("dl"))
      .localCheckpoint(true)
    val assign = pl.groupBy(col("id"))
      .agg(min(struct(col("dl"), col("lid"))).as("m"))
      .select(col("id"), col("m.lid").as("cell"), col("m.dl").as("dcell"))
    val cells = pts.join(assign, Seq("id")).localCheckpoint(true)
    val radii = cells.groupBy(col("cell")).agg(max(col("dcell")).as("radius"))
    // phase 1: own-cell bound τ (bounded-heap agg: state = k entries/query)
    val ownK = cells.select(col("cell"), col("id").as("a"), col("vec").as("va"))
      .join(cells.select(col("cell"), col("id").as("b"), col("vec").as("vb")), Seq("cell"))
      .where(col("a") =!= col("b"))
      .select(col("a"), sqrt(l2sq(col("va"), col("vb"))).as("d"), col("b"))
      .groupBy(col("a")).agg(TopKAgg.topKMin(col("d"), col("b"), k).as("flat"))
      .select(col("a").as("id"),
        when(size(col("flat")) === 2 * k, element_at(col("flat"), 2 * k - 1))
          .otherwise(lit(Double.PositiveInfinity)).as("tau"))
    // phase 2: surviving cells by the triangle bound, then exact top-k
    val candCells = pl.join(ownK, Seq("id"))
      .join(radii.withColumnRenamed("cell", "lid"), Seq("lid"))
      .where(col("dl") - col("radius") <= col("tau") + 1e-9)
      .select(col("id").as("src"), col("lid").as("cell"))
    candCells
      .join(cells.select(col("cell"), col("id").as("dst"), col("vec").as("vb")), Seq("cell"))
      .where(col("src") =!= col("dst"))
      .join(pts.select(col("id").as("src"), col("vec").as("va")), Seq("src"))
      .select(col("src"), sqrt(l2sq(col("va"), col("vb"))).as("d"), col("dst"))
  }
}
