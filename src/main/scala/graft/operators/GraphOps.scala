package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph-centrality scoring — the domain-authority signal a corpus
  * curation pipeline weights documents by (CommonCrawl-style domain
  * ranking). The engine already ships the graph primitives the reference
  * provides (R-MAT generation random/rmat_rectangular_generator.cuh:86,
  * COO degree, spmv, connected components); PageRank is their canonical
  * composition: each round IS one spmv against the column-stochastic
  * adjacency plus a rank-one damping correction.
  *
  * Scale shape: rank state is a (node, r) DataFrame, never driver-held;
  * each round is ONE keyed shuffle (contributions grouped by
  * destination) with the out-degree table joined on the edge stream. A
  * fixed round count keeps the op deterministic and SQL-replicable (the
  * driver oracle replays the same rounds as a recursive CTE). Dangling
  * mass is dropped (the standardized simplification) so the update needs
  * no per-round global aggregate — the whole solve is one declarative
  * DAG executed by a single action.
  */
object GraphOps {

  /** The [[graft.LoopPolicy]] scope of every iterative driver here,
    * sized by the materialized edge set (a 1000-edge fixture must not
    * schedule 32-task waves per round; a billion-edge graph keeps full
    * width) and stepped, so a fixture-size loop runs interpreted. The
    * body's result is materialized INSIDE the scope so the tail rounds that
    * no checkpoint covered don't execute later at the restored width.
    * `sized` must already be checkpointed — its count is then one cheap
    * cached-partition pass, amortized over the loop's rounds. */
  private def withGraphLoop(sized: DataFrame, atLeast: Long = 0L)
      (body: => DataFrame): DataFrame =
    graft.LoopPolicy.scope(sized.sparkSession, Some(math.max(atLeast, sized.count())),
        stepped = true) { _ =>
      body.localCheckpoint(true)
    }

  /** PageRank after `iters` synchronous rounds over the DISTINCT edge
    * set: r_{t+1}(v) = (1−d)/N + d·Σ_{u→v} r_t(u)/outdeg(u).
    * Returns (node, r) for all n nodes (isolated ones settle at (1−d)/N).
    */
  def pageRank(edges: DataFrame, n: Long, iters: Int,
      damping: Double = 0.85): DataFrame = {
    val spark = edges.sparkSession
    val e = edges.select(col("src"), col("dst")).distinct().localCheckpoint(true)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).cast("double").as("od"))
      .localCheckpoint(true)
    val nodes = spark.range(n).select(col("id").as("node"))
    withGraphLoop(e, atLeast = n) {
    var r = nodes.select(col("node"), lit(1.0 / n).as("r"))
    for (i <- 1 to iters) {
      val contrib = e.join(r, e("src") === r("node"))
        .join(deg, Seq("src"))
        .select(col("dst").as("node"), (col("r") / col("od")).as("cv"))
        .groupBy(col("node")).agg(sum(col("cv")).as("s"))
      r = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"), (lit((1.0 - damping) / n) +
          lit(damping) * coalesce(col("s"), lit(0.0))).as("r"))
      // Lineage truncation: without it, round t's plan embeds rounds 1..t-1
      // and the optimizer re-analyzes a geometrically growing DAG — fine at
      // 10 rounds, a driver-side planning bomb at 50+. Every 5 rounds keeps
      // the per-checkpoint job cost amortized (same knob as the other
      // iterative drivers: connectedComponents, Lanczos, k-means).
      if (i % 5 == 0 && i < iters) r = r.localCheckpoint(true)
    }
    r
    }
  }

  /** Synchronous label-propagation community detection (Raghavan et al.
    * 2007) made DETERMINISTIC: every node starts as its own label; per
    * round each node adopts its neighbors' most frequent label with the
    * total tie order (count desc, label asc), neighbors taken over the
    * SYMMETRIZED self-loop-free edge set; nodes without neighbors keep
    * their label. The curation use is grouping domains / near-dup
    * families one notch softer than connected components (CC merges
    * through any single stray edge; LPA needs a plurality).
    *
    * Scale shape: one keyed vote count + one per-node rank pick per
    * round — label state is a (node, label) DataFrame, never
    * driver-held; fixed rounds keep it SQL-replicable (the oracle
    * unrolls the identical rounds), and lineage is checkpointed per
    * round like every iterative driver here. */
  def labelPropagation(edges: DataFrame, n: Long, rounds: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = edges.sparkSession
    val e0 = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst"))
    val und = e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(true)
    withGraphLoop(und, atLeast = n) {
    var labels = spark.range(n).select(col("id").as("node"), col("id").as("label"))
    for (_ <- 1 to rounds) {
      val votes = und
        .join(labels.select(col("node").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src"), col("label")).agg(count(lit(1)).as("c"))
      val picked = votes.withColumn("rn", row_number().over(
          Window.partitionBy(col("src")).orderBy(col("c").desc, col("label").asc)))
        .where(col("rn") === 1)
        .select(col("src").as("node"), col("label").as("newl"))
      labels = labels.join(picked, Seq("node"), "left_outer")
        .select(col("node"), coalesce(col("newl"), col("label")).as("label"))
        .localCheckpoint(true)
    }
    labels
    }
  }

  /** Common-neighbor link prediction: for every vertex pair at distance
    * 2, how many shared neighbors connect them (the classic
    * link-prediction / graph-similarity score, and the base quantity of
    * Adamic-Adar). Enumerated as wedges KEYED BY THE MIDDLE vertex —
    * Σ_m deg(m)² rows, never n² — the same middle-vertex shape as the
    * CAGRA 2-hop prune. Existing edges are anti-joined out (prediction
    * scores only NON-edges); pairs canonical a < b. */
  def commonNeighbors(edges: DataFrame, minShared: Long = 2): DataFrame = {
    val und = canonicalUndirected(edges).localCheckpoint(true)
    val adj = und.select(col("a").as("m"), col("b").as("x"))
      .unionByName(und.select(col("b").as("m"), col("a").as("x")))
    // middle-vertex degree rides along for the Adamic-Adar weight
    // 1/ln(deg(m)); a wedge middle always has deg ≥ 2, so ln > 0
    val deg = adj.groupBy(col("m")).agg(count(lit(1)).as("dm"))
    val adjD = adj.join(deg, Seq("m"))
    val wedges = adjD.select(col("m"), col("dm"), col("x").as("pa"))
      .join(adjD.select(col("m"), col("x").as("pb")), Seq("m"))
      .where(col("pa") < col("pb"))
      .groupBy(col("pa").as("a"), col("pb").as("b"))
      .agg(count(lit(1)).as("shared"),
        (round(sum(lit(1.0) / log(col("dm"))), 6) + 0.0).as("adamic_adar"))
    wedges.join(und, Seq("a", "b"), "left_anti")
      .where(col("shared") >= minShared)
  }

  private def canonicalUndirected(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** Fixed-round k-core peeling: `rounds` SYNCHRONOUS rounds of "drop
    * every vertex with degree < k" over the canonical undirected simple
    * edge set, then the surviving vertices with their residual degrees.
    * A fixed round count keeps the op deterministic and round-by-round
    * SQL-replayable (the labelPropagation convention); when the peel
    * reaches its fixpoint within `rounds` the result IS the k-core
    * (GraphSpec pins a graph with known peel depth). Each round is one
    * degree aggregate + two semi-joins — edge-list state, never
    * driver-held. */
  def kCore(edges: DataFrame, k: Long, rounds: Int): DataFrame = {
    def degrees(und: DataFrame): DataFrame =
      und.select(col("a").as("node"))
        .unionByName(und.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val und0 = canonicalUndirected(edges).localCheckpoint(true)
    withGraphLoop(und0) {
    var und = und0
    for (_ <- 1 to rounds) {
      val keep = degrees(und).where(col("deg") >= k).select(col("node"))
      und = und
        .join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .localCheckpoint(true)
    }
    degrees(und)
    }
  }

  /** Deterministic DeepWalk-style random walks (Perozzi et al., KDD'14):
    * one walk per vertex over the symmetrized simple edge set, advanced
    * `length` SYNCHRONOUS steps. The "random" neighbor choice is the
    * counter-hash convention every sampler here uses — at step t the
    * walk at v moves to the neighbor x minimizing
    * h32("walk:t:x" · seed), a pure expression of (walk, t, x) — so the
    * walk corpus is partition-invariant and the oracle replays it as an
    * unrolled argmin-per-step SQL. The output (walk, step, node) rows
    * ARE the skip-gram training sequences a graph-embedding pipeline
    * consumes.
    *
    * Scale shape: frontier state is one (walk, node) row per walk; each
    * step is one adjacency equi-join + one min_by aggregate keyed by
    * walk — 2 keyed shuffles per step, nothing driver-held, and walk
    * count scales with the graph (or any supplied start set), not with
    * walk length. Every symmetrized vertex has degree ≥ 1, so no walk
    * dies before `length`. */
  def randomWalks(edges: DataFrame, length: Int, seed: Long = 42): DataFrame = {
    import graft.operators.TextOps.h32
    val und = canonicalUndirected(edges).localCheckpoint(true)
    val adj = und.select(col("a").as("m"), col("b").as("x"))
      .unionByName(und.select(col("b").as("m"), col("a").as("x")))
      .localCheckpoint(true)
    withGraphLoop(adj) {
    var frontier = adj.select(col("m")).distinct()
      .select(col("m").as("walk"), col("m").as("node"))
    var out = frontier.select(col("walk"), lit(0).as("step"), col("node"))
    for (t <- 1 to length) {
      // integer key with x as the low bits: argmin is tie-free by
      // construction, and both engines pick with one arg-min aggregate
      val key = h32(concat_ws(":",
          concat_ws(":", col("walk"), lit(t), col("x")),
          lit(seed), lit("walk"))) * lit(65536L) + col("x")
      frontier = frontier.join(adj, frontier("node") === adj("m"))
        .select(col("walk"), col("x"), key.as("k"))
        .groupBy(col("walk")).agg(min_by(col("x"), col("k")).as("node"))
      if (t % 4 == 0 && t < length) frontier = frontier.localCheckpoint(true)
      out = out.unionByName(
        frontier.select(col("walk"), lit(t).as("step"), col("node")))
    }
    out
    }
  }

  /** node2vec biased second-order walks (Grover & Leskovec, KDD'16):
    * like [[randomWalks]] but each step weights candidate x by the
    * search bias α(prev, x) — wReturn if x is the previous node
    * (α = 1/p), wCommon if x neighbors the previous node (α = 1),
    * wFar otherwise (α = 1/q). Defaults (4, 2, 1) encode p = 1/2,
    * q = 2: return-tolerant and locality-biased (the BFS-ish,
    * structural-equivalence end of the paper's dial).
    *
    * Weights are INTEGERS so the weighted pick stays exact and
    * replayable: candidate x enters w replicas (explode of
    * sequence(1, w)), each keyed by an integer counter-hash, and the
    * walk takes the arg-min key — P(x) = w_x/Σw exactly (the arg-min
    * over Σw iid uniform draws is uniform over draws), with zero
    * float comparison for the oracle to straddle. Scale shape per
    * step: one adjacency equi-join, one left join against the edge
    * set for the prev-neighbor mark, one ≤4× replica explode, one
    * keyed arg-min — frontier state is one (walk, prev, node) row per
    * walk, nothing driver-held. */
  def node2vecWalks(edges: DataFrame, length: Int, wReturn: Int = 4,
      wCommon: Int = 2, wFar: Int = 1, seed: Long = 42): DataFrame = {
    import graft.operators.TextOps.h32
    require(wReturn < 8 && wCommon < 8 && wFar < 8, "replica weights < 8")
    val und = canonicalUndirected(edges).localCheckpoint(true)
    val adj = und.select(col("a").as("m"), col("b").as("x"))
      .unionByName(und.select(col("b").as("m"), col("a").as("x")))
      .localCheckpoint(true)
    val prevAdj = adj.select(col("m").as("pm"), col("x").as("px"),
      lit(1).as("near"))
    // prev = start at t=1: no self-loops, and every candidate neighbors
    // cur = prev, so the first step degrades to the uniform pick
    withGraphLoop(adj) {
    var frontier = adj.select(col("m")).distinct()
      .select(col("m").as("walk"), col("m").as("prev"), col("m").as("node"))
    var out = frontier.select(col("walk"), lit(0).as("step"), col("node"))
    for (t <- 1 to length) {
      val cand = frontier.join(adj, frontier("node") === adj("m"))
        .join(prevAdj, col("prev") === col("pm") && col("x") === col("px"), "left")
        .select(col("walk"), col("node").as("cur"), col("x"),
          when(col("x") === col("prev"), lit(wReturn))
            .when(col("near").isNotNull, lit(wCommon))
            .otherwise(lit(wFar)).as("w"))
      val key = h32(concat_ws(":",
          concat_ws(":", col("walk"), lit(t), col("x"), col("rep")),
          lit(seed), lit("n2v"))) * lit(2048L) + col("x") * 8L + col("rep")
      frontier = cand
        .select(col("walk"), col("cur"), col("x"),
          explode(sequence(lit(1), col("w"))).as("rep"))
        .groupBy(col("walk"), col("cur"))
        .agg(min_by(col("x"), key).as("node"))
        .select(col("walk"), col("cur").as("prev"), col("node"))
      if (t % 4 == 0 && t < length) frontier = frontier.localCheckpoint(true)
      out = out.unionByName(
        frontier.select(col("walk"), lit(t).as("step"), col("node")))
    }
    out
    }
  }

  /** Exact t-hop neighborhood function: |B_t(v)| for t = 0..maxT over
    * the symmetrized simple edge set (closeness-style sums fall out as
    * Σ_t t·(|B_t|−|B_{t−1}|)). State is the explicit (v, u) membership
    * pair table —
    * O(n·ball) rows, each round one adjacency equi-join + distinct —
    * which is exactly why this is the BOUNDED ORACLE form: it drowns
    * past a few hops on a real graph. [[hyperBall]] is the scale path
    * (same interface, HLL registers instead of pair rows). */
  def neighborhoodFunction(edges: DataFrame, maxT: Int): DataFrame = {
    val und = canonicalUndirected(edges).localCheckpoint(true)
    val adj = und.select(col("a").as("m"), col("b").as("x"))
      .unionByName(und.select(col("b").as("m"), col("a").as("x")))
      .localCheckpoint(true)
    withGraphLoop(adj) {
    var ball = adj.select(col("m")).distinct()
      .select(col("m").as("v"), col("m").as("u"))
    var sizes = ball.groupBy(col("v")).agg(count(lit(1)).as("size"))
      .select(col("v").as("node"), lit(0).as("t"), col("size"))
    for (t <- 1 to maxT) {
      ball = ball.unionByName(
          ball.join(adj, ball("u") === adj("m")).select(col("v"), col("x").as("u")))
        .distinct()
        .localCheckpoint(true)
      sizes = sizes.unionByName(
        ball.groupBy(col("v")).agg(count(lit(1)).as("size"))
          .select(col("v").as("node"), lit(t).as("t"), col("size")))
    }
    sizes
    }
  }

  /** HyperBall (Boldi & Vigna, 2013): the APPROXIMATE neighborhood
    * function at 100 TB scale — per-node HyperLogLog registers merged
    * element-wise along edges each round, so a t-hop ball census costs
    * t keyed joins over n·m register rows instead of materializing
    * O(n·ball) memberships. Registers live as (node, reg_idx, rank)
    * ROWS, not arrays: the merge is a plain groupBy(node, reg).max —
    * map-side combinable, skew-safe, no custom aggregate needed.
    *
    * Register assignment is the usual counter-hash split: node u lands
    * in register h32(u:seed:"hbj") mod m with rank ρ = 33 − bitlen(w)
    * of the 32-bit w = h32(u:seed:"hbw") (leading-zero count + 1), so
    * the sketch — and the estimate — is a pure function of the node
    * ids, replayable in SQL. Estimate: α_m·m²/Σ2^−M_j with the
    * standard small-range correction m·ln(m/V) when E ≤ 2.5m and V>0
    * zero registers remain (Flajolet et al. 2007). Σ2^−M_j sums exact
    * dyadic rationals — order-independent across engines. */
  def hyperBall(edges: DataFrame, maxT: Int, m: Int, seed: Long = 42): DataFrame = {
    import graft.operators.TextOps.h32
    require(m >= 16 && (m & (m - 1)) == 0, "m: power of two >= 16")
    val und = canonicalUndirected(edges).localCheckpoint(true)
    val adj = und.select(col("a").as("m"), col("b").as("x"))
      .unionByName(und.select(col("b").as("m"), col("a").as("x")))
      .localCheckpoint(true)
    val nodes = adj.select(col("m").as("u")).distinct()
    val w = h32(concat_ws(":", col("u"), lit(seed), lit("hbw")))
    val own = nodes.select(col("u"),
        pmod(h32(concat_ws(":", col("u"), lit(seed), lit("hbj"))), lit(m)).as("reg"),
        when(w === 0L, lit(33L)).otherwise(lit(33L) - length(bin(w))).as("rank"))
      .localCheckpoint(true)
    // state: one row per node per OCCUPIED register (absent = rank 0)
    withGraphLoop(adj) {
    var state = own.select(col("u").as("v"), col("reg"), col("rank"))
    for (t <- 1 to maxT) {
      state = state
        .join(adj, state("v") === adj("m"))
        .select(col("x").as("v"), col("reg"), col("rank"))
        .unionByName(state)
        .groupBy(col("v"), col("reg")).agg(max(col("rank")).as("rank"))
      if (t % 4 == 0 && t < maxT) state = state.localCheckpoint(true)
    }
    hllEstimate(state, m).select(col("node"), round(col("est"), 4).as("est"))
    }
  }

  /** Per-node HLL cardinality estimate from (v, reg, rank) register rows
    * — the corrected Flajolet estimator [[hyperBall]] documents. */
  private def hllEstimate(state: DataFrame, m: Int): DataFrame = {
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    // Z = Σ_j 2^-M_j with absent registers contributing 2^0 = 1
    val agg = state.groupBy(col("v"))
      .agg(sum(pow(lit(2.0), -col("rank"))).as("zOcc"),
        count(lit(1)).as("occ"))
      .select(col("v").as("node"),
        (col("zOcc") + (lit(m) - col("occ"))).as("z"),
        (lit(m) - col("occ")).cast("double").as("zeros"))
    val raw = lit(alpha * m * m) / col("z")
    agg.select(col("node"),
      when(raw <= lit(2.5 * m) && col("zeros") > 0,
        lit(m.toDouble) * log(lit(m.toDouble) / col("zeros")))
        .otherwise(raw).as("est"))
  }

  /** HyperBall NEIGHBORHOOD FUNCTION: N(t) = Σ_v |B_t(v)| estimated for
    * every t = 0..maxT in one sweep — the curve whose 90% crossing is
    * the effective diameter (the headline statistic HyperBall was built
    * to compute on billion-edge graphs). Same register state as
    * [[hyperBall]]; each round additionally folds the per-node
    * estimates into one (t, nf) row. */
  def hyperBallNF(edges: DataFrame, maxT: Int, m: Int, seed: Long = 42): DataFrame = {
    import graft.operators.TextOps.h32
    require(m >= 16 && (m & (m - 1)) == 0, "m: power of two >= 16")
    val und = canonicalUndirected(edges).localCheckpoint(true)
    val adj = und.select(col("a").as("m"), col("b").as("x"))
      .unionByName(und.select(col("b").as("m"), col("a").as("x")))
      .localCheckpoint(true)
    val nodes = adj.select(col("m").as("u")).distinct()
    val w = h32(concat_ws(":", col("u"), lit(seed), lit("hbw")))
    var state = nodes.select(col("u").as("v"),
        pmod(h32(concat_ws(":", col("u"), lit(seed), lit("hbj"))), lit(m)).as("reg"),
        when(w === 0L, lit(33L)).otherwise(lit(33L) - length(bin(w))).as("rank"))
      .localCheckpoint(true)
    withGraphLoop(adj) {
    def nfRow(t: Int) = hllEstimate(state, m)
      .agg(sum(col("est")).as("nf")).select(lit(t).as("t"), col("nf"))
    var out = nfRow(0)
    for (t <- 1 to maxT) {
      state = state
        .join(adj, state("v") === adj("m"))
        .select(col("x").as("v"), col("reg"), col("rank"))
        .unionByName(state)
        .groupBy(col("v"), col("reg")).agg(max(col("rank")).as("rank"))
        .localCheckpoint(true)
      out = out.unionByName(nfRow(t))
    }
    out
    }
  }

  /** Truncated harmonic centrality from the exact ball census:
    * H(v) = Σ_{t=1..maxT} (|B_t(v)| − |B_{t−1}(v)|)/t — each node at
    * distance t contributes 1/t, nodes beyond maxT hops contribute 0
    * (the standard truncated form; HyperBall §6.2 computes exactly this
    * sum from consecutive ball estimates at scale). This derivation is
    * a self-join of the (node, t, size) frame on t−1 + one keyed fold;
    * swap [[hyperBall]] estimates in for the sizes at census scale. */
  def harmonicCentrality(edges: DataFrame, maxT: Int): DataFrame = {
    // fold Σ Δt/t as Σ Δt·(L/t) over the integers (L = lcm(1..maxT)),
    // one final division: the sum is order-independent across engines
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val lcmT = (1 to maxT).foldLeft(1L)((l, t) => l / gcd(l, t) * t)
    val sizes = neighborhoodFunction(edges, maxT).localCheckpoint(true)
    val cur = sizes.where(col("t") >= 1)
      .select(col("node"), col("t"), col("size"))
    val prev = sizes.select(col("node"), (col("t") + 1).as("t"),
      col("size").as("psize"))
    cur.join(prev, Seq("node", "t"))
      .groupBy(col("node"))
      .agg((round(sum((col("size") - col("psize")) *
          (lit(lcmT) / col("t")).cast("long")).cast("double") / lcmT, 6)
        + 0.0).as("h"))
  }

  /** Effective diameter (the `frac` quantile of the pairwise-distance
    * distribution, conventionally 0.9) interpolated from the HyperBall
    * neighborhood-function curve: the first t with N(t) ≥ frac·N(maxT),
    * linearly interpolated inside the crossing step (Palmer/ANF,
    * Boldi & Vigna 2013 §4). Everything downstream of [[hyperBallNF]]
    * operates on the (maxT+1)-row curve — two tiny joins, no data-sized
    * work beyond the register sweep itself. */
  def effectiveDiameter(edges: DataFrame, maxT: Int, m: Int,
      frac: Double = 0.9, seed: Long = 42): DataFrame = {
    val nf = hyperBallNF(edges, maxT, m, seed).localCheckpoint(true)
    val tgt = nf.where(col("t") === maxT)
      .select((col("nf") * frac).as("target"))
    val prev = nf.select((col("t") + 1).as("t"), col("nf").as("pnf"))
    val steps = nf.join(prev, Seq("t"), "left").crossJoin(broadcast(tgt))
    steps.where(col("nf") >= col("target") &&
        (col("t") === 0 || col("pnf") < col("target")))
      .agg(min(when(col("t") === 0, lit(0.0)).otherwise(
        col("t") - 1.0 + (col("target") - col("pnf")) / (col("nf") - col("pnf"))))
        .as("d_eff"), max(col("target")).as("target"))
      .select((round(col("d_eff"), 4) + 0.0).as("d_eff"),
        (round(col("target"), 4) + 0.0).as("target"))
  }

  /** Personalized PageRank: identical synchronous update to [[pageRank]]
    * but the restart mass lands on the SEED set only —
    * r_{t+1}(v) = (1−d)·1[v ∈ S]/|S| + d·Σ_{u→v} r_t(u)/outdeg(u).
    * The curation use is topic-conditioned authority: rank the corpus
    * graph from a trusted seed domain set. Seeds arrive as a DataFrame
    * (column `node`) and are broadcast into the update as a join —
    * never collected. */
  def personalizedPageRank(edges: DataFrame, n: Long, seeds: DataFrame,
      iters: Int, damping: Double = 0.85): DataFrame = {
    val spark = edges.sparkSession
    val e = edges.select(col("src"), col("dst")).distinct().localCheckpoint(true)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).cast("double").as("od"))
      .localCheckpoint(true)
    val s = seeds.select(col("node")).distinct().localCheckpoint(true)
    val nodes = spark.range(n).select(col("id").as("node"))
      .join(broadcast(s.select(col("node"), lit(1.0).as("is_seed"))),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("is_seed"), lit(0.0)).as("is_seed"))
      .localCheckpoint(true)
    val nSeeds = lit(s.count().toDouble)
    val restart = col("is_seed") / nSeeds * lit(1.0 - damping)
    withGraphLoop(e, atLeast = n) {
    var r = nodes.select(col("node"), (col("is_seed") / nSeeds).as("r"))
    for (i <- 1 to iters) {
      val contrib = e.join(r, e("src") === r("node"))
        .join(deg, Seq("src"))
        .select(col("dst").as("node"), (col("r") / col("od")).as("cv"))
        .groupBy(col("node")).agg(sum(col("cv")).as("s"))
      r = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"), col("is_seed"),
          (restart + lit(damping) * coalesce(col("s"), lit(0.0))).as("r"))
      if (i % 5 == 0 && i < iters) r = r.localCheckpoint(true)
    }
    r.select(col("node"), col("r"))
    }
  }

  /** HITS hubs & authorities (Kleinberg '99), `iters` synchronous
    * rounds over the DISTINCT directed edge set:
    * a ∝ Σ_{u→v} h(u), h ∝ Σ_{u→v} a(v). The updates are LINEAR and
    * all-positive, so per-half-step normalization only rescales — the
    * loop runs unnormalized (2 join-aggregates per iteration, nothing
    * else) and ONE final L1 normalization recovers the standard unit-
    * sum scores (an L1 norm is a plain global sum — deterministic and
    * SQL-replayable, unlike L2's rounding-order fight). Absent keys ARE
    * the zeros inside the loop (the join drops them, contributing
    * nothing), so the full node spine attaches only at the end; nodes
    * outside the edge set report 0. Double range check: growth per
    * round ≤ Σdeg, so iters·log₂(Σdeg) stays far under the exponent
    * budget for any sane horizon. Normalizers broadcast as 1-row aggs,
    * never collected. */
  def hits(edges: DataFrame, n: Long, iters: Int): DataFrame = {
    val spark = edges.sparkSession
    val e = edges.select(col("src"), col("dst")).distinct().localCheckpoint(true)
    withGraphLoop(e, atLeast = n) {
    var h = e.select(col("src").as("node")).distinct()
      .select(col("node"), lit(1.0).as("h"))
    var a = h.select(col("node"), col("h").as("a")) // placeholder until iter 1
    for (i <- 1 to iters) {
      a = e.join(h.select(col("node").as("src"), col("h")), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum(col("h")).as("a"))
      h = e.join(a.select(col("node").as("dst"), col("a")), Seq("dst"))
        .groupBy(col("src").as("node")).agg(sum(col("a")).as("h"))
      if (i % 3 == 0 && i < iters) {
        a = a.localCheckpoint(true); h = h.localCheckpoint(true)
      }
    }
    // each of h/a feeds TWO consumers below (spine join + L1 normalizer
    // agg) — cut the lineage once so the tail iterations don't replay
    a = a.localCheckpoint(true); h = h.localCheckpoint(true)
    val nodes = spark.range(n).select(col("id").as("node"))
    nodes.join(h, Seq("node"), "left").join(a, Seq("node"), "left")
      .crossJoin(broadcast(h.agg(sum(col("h")).as("__th"))))
      .crossJoin(broadcast(a.agg(sum(col("a")).as("__ta"))))
      .select(col("node"),
        (coalesce(col("h"), lit(0.0)) / col("__th")).as("h"),
        (coalesce(col("a"), lit(0.0)) / col("__ta")).as("a"))
    }
  }

  /** k-truss peeling: `rounds` SYNCHRONOUS rounds of "drop every edge
    * supported by fewer than k−2 triangles", over the canonical
    * undirected simple edge set; returns the surviving edges. The edge
    * analog of [[kCore]] — a strictly stronger cohesion filter (every
    * k-truss edge sits in a (k−1)-core). Per round the support count
    * uses the DEGREE-ORDERED triangle enumeration of [[triangleCounts]]
    * (Σ outdeg⁺², never Σ deg² — hub-safe), each triangle charged to
    * its 3 edges with one union + keyed count; the oracle replays the
    * rounds with the INDEPENDENT brute wedge formulation. */
  def kTruss(edges: DataFrame, k: Long, rounds: Int): DataFrame = {
    val und0 = canonicalUndirected(edges).localCheckpoint(true)
    withGraphLoop(und0) {
    var und = und0
    for (_ <- 1 to rounds) {
      val deg = und.select(col("a").as("node"))
        .unionByName(und.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val withDeg = und
        .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
        .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
      val oriented = withDeg.select(
          when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")),
            struct(col("a").as("u"), col("b").as("v")))
            .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .localCheckpoint(true)
      val wedges = oriented.select(col("u"), col("v").as("w1"))
        .join(oriented.select(col("u"), col("v").as("w2")), Seq("u"))
        .where(col("w1") < col("w2"))
      val closing = oriented.select(col("u").as("w1"), col("v").as("w2"))
        .unionByName(oriented.select(col("v").as("w1"), col("u").as("w2")))
      val tris = wedges.join(closing, Seq("w1", "w2"))
        .select(col("u"), col("w1"), col("w2"))
      def canon(x: Column, y: Column) =
        Seq(least(x, y).as("a"), greatest(x, y).as("b"))
      val support = tris.select(canon(col("u"), col("w1")): _*)
        .unionByName(tris.select(canon(col("u"), col("w2")): _*))
        .unionByName(tris.select(canon(col("w1"), col("w2")): _*))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("sup"))
      und = und.join(support, Seq("a", "b"), "left")
        .where(coalesce(col("sup"), lit(0L)) >= lit(k - 2))
        .select(col("a"), col("b"))
        .localCheckpoint(true)
    }
    und
    }
  }

  /** Triangle counting with DEGREE ORDERING (the scalable formulation —
    * Suri & Vassilvitskii, WWW'11 "Counting Triangles and the Curse of
    * the Last Reducer"): canonicalize to undirected simple edges, orient
    * every edge from the (degree, id)-smaller endpoint to the larger,
    * then each triangle is found EXACTLY once as a wedge at its
    * smallest-degree vertex closed by one oriented-edge lookup. The
    * wedge count is Σ_v outdeg⁺(v)², and degree orientation caps
    * outdeg⁺ at O(√m) — a hub of degree 1e6 contributes almost no
    * wedges because its edges all point INTO it. Two self-joins on the
    * oriented edge list, both equi-keyed; per-node counts for all three
    * corners via one union. Returns (node, n_tri).
    */
  /** Graph-level clustering summary: average local clustering
    * coefficient c̄ = avg_v 2T_v/(d_v(d_v−1)) (degree-<2 nodes count
    * as 0, the NetworkX convention) and global transitivity
    * 3·#triangles / #wedges — the two standard "is this a community
    * graph or a spam farm" cohesion scores. One row out. Triangles
    * come from [[triangleCounts]] (degree-ordered, hub-safe); wedges
    * are a closed form of the degree table — no extra join. */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    val und = canonicalUndirected(edges).localCheckpoint(true)
    val deg = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val cc = deg.join(triangleCounts(und.select(col("a").as("src"), col("b").as("dst"))),
        Seq("node"), "left")
      .select(col("deg"), coalesce(col("n_tri"), lit(0L)).as("t"))
      .select(col("t"),
        when(col("deg") >= 2,
          lit(2.0) * col("t") / (col("deg") * (col("deg") - 1)))
          .otherwise(lit(0.0)).as("c"),
        when(col("deg") >= 2, col("deg") * (col("deg") - 1) / 2).otherwise(lit(0L))
          .as("wedges"))
    cc.agg(count(lit(1)).as("n_nodes"),
      (round(avg(col("c")), 6) + 0.0).as("avg_cc"),
      (round(sum(col("t")).cast("double") / sum(col("wedges")), 6) + 0.0)
        .as("transitivity"))
  }

  /** Degree assortativity: the Pearson correlation of endpoint degrees
    * over the directed version of the symmetrized edge set (Newman
    * 2002) — positive on social-ish graphs (hubs befriend hubs),
    * negative on web/citation-ish ones. Two broadcast-shaped joins of
    * the degree table onto the edge list and one corr aggregate. */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val und = canonicalUndirected(edges).localCheckpoint(true)
    val adj = und.select(col("a").as("m"), col("b").as("x"))
      .unionByName(und.select(col("b").as("m"), col("a").as("x")))
    val deg = adj.groupBy(col("m")).agg(count(lit(1)).as("d"))
    adj.join(deg.select(col("m"), col("d").as("dm")), Seq("m"))
      .join(deg.select(col("m").as("x"), col("d").as("dx")), Seq("x"))
      .agg((round(corr(col("dm").cast("double"), col("dx").cast("double")), 6) + 0.0)
        .as("assortativity"), count(lit(1)).as("n_pairs"))
  }

  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = canonicalUndirected(edges)
    val deg = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
    // orient low → high in (degree, id) order
    val oriented = withDeg.select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .localCheckpoint(true)
    val wedges = oriented.select(col("u"), col("v").as("w1"))
      .join(oriented.select(col("u"), col("v").as("w2")), Seq("u"))
      .where(col("w1") < col("w2"))
    // close the wedge: the third edge is oriented too, but its direction
    // within (w1, w2) depends on their degree order — check both
    val closing = oriented.select(col("u").as("w1"), col("v").as("w2"))
      .unionByName(oriented.select(col("v").as("w1"), col("u").as("w2")))
    val tris = wedges.join(closing, Seq("w1", "w2"))
      .select(col("u"), col("w1"), col("w2"))
    tris.select(col("u").as("node"))
      .unionByName(tris.select(col("w1").as("node")))
      .unionByName(tris.select(col("w2").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
  }
}
