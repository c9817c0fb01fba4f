package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.ArrayMath
import graft.operators.TextOps.h32

/** Similarity search over the embedding column. Brute-force cosine top-k is
  * the exact baseline (block cross-join + per-query top-k); the
  * random-hyperplane LSH variant is the scale path — each vector maps to a
  * bucket, and the search joins only same-bucket candidates, turning the
  * O(n·q) scan into an equi-join the planner distributes by bucket.
  * (The reference's ANN moved to cuVS; pairwise-distance + select_k remain
  * its primitives — matrix/select_k.cuh:75 over a distance matrix.)
  */
object AnnOps {

  def cosine(a: Column, b: Column): Column = ArrayMath.cosine(a, b)

  /** Exact top-k cosine neighbors for the query rows (id < nQueries). */
  def bruteForceTopK(vectors: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = vectors.where(col("id") < nQueries)
      .select(col("id").as("qid"), col("vec").as("qv"))
    val c = vectors.select(col("id").as("nid"), col("vec").as("nv"))
    val scored = q.join(c, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine(col("qv"), col("nv")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select(col("qid"), col("nid"), round(col("cos"), 4).as("cos"), col("rnk"))
  }

  /** kNN classification — majority vote (ties to the smallest label) over
    * the k nearest labeled points by L2, query rows held out of the vote.
    * The classic consumer of the pairwise-distance + select_k primitives;
    * this exact form is the bounded baseline and the LSH/IVF candidate
    * joins are the scale path, as everywhere in this family. */
  def knnClassify(points: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = points.where(col("id") < nQueries)
      .select(col("id").as("qid"), col("vec").as("qv"))
    val c = points.where(col("id") >= nQueries)
      .select(col("id").as("nid"), col("vec").as("nv"), col("label"))
    val w = Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("nid").asc)
    val neighbors = q.join(c, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), col("label"),
        DistanceOps.l2sq(col("qv"), col("nv")).as("d2"))
      .withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
    neighbors.groupBy(col("qid"), col("label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("votes").desc, col("label").asc)))
      .where(col("vr") === 1)
      .select(col("qid"), col("label").as("pred"), col("votes"))
  }

  /** Hard-negative mining for contrastive training: for each anchor
    * (id < nQueries), the k nearest points with a DIFFERENT label — the
    * pairs that sharpen an embedding model (in-batch negatives are
    * mostly easy; the valuable ones are nearest-other-class). Exact
    * top-k here (the bounded oracle baseline, as everywhere in this
    * family); at corpus scale the candidate set comes from the same
    * LSH/IVF/graph paths the ANN queries use, with the label-mismatch
    * predicate applied on candidates. Returns (qid, nid, neg_label, d, rnk). */
  def hardNegatives(points: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = points.where(col("id") < nQueries)
      .select(col("id").as("qid"), col("vec").as("qv"), col("label").as("qlab"))
    val c = points.select(col("id").as("nid"), col("vec").as("nv"),
      col("label").as("neg_label"))
    val w = Window.partitionBy(col("qid")).orderBy(col("d").asc, col("nid").asc)
    q.join(c, col("qlab") =!= col("neg_label"))
      .select(col("qid"), col("nid"), col("neg_label"),
        sqrt(DistanceOps.l2sq(col("qv"), col("nv"))).as("d"))
      .withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("neg_label"),
        (round(col("d"), 4) + 0.0).as("d"), col("rnk"))
  }

  /** Deterministic random hyperplane h (0-centered uniform lanes), seeded. */
  def hyperplane(h: Int, d: Int, seed: Long): Column =
    transform(sequence(lit(0), lit(d - 1)), j =>
      (h32(concat_ws(":", lit(h), j, lit(seed), lit("hp"))) + lit(0.5)) / lit(4294967296.0)
        - lit(0.5))

  /** The same hyperplane lanes computed ONCE on the driver: md5 prefix →
    * integer → exact power-of-two scaling, bit-identical to the
    * `hyperplane` expression (and to the DuckDB oracle's replay). The
    * expression form re-evaluated d md5 draws per plane per ROW
    * (interpreted — about half the wall time of every LSH query at bench
    * scale); the lanes are row-independent, so they belong in a literal. */
  def hyperplaneValues(h: Int, d: Int, seed: Long): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(d) { j =>
      val hex = md.digest(s"$h:$j:$seed:hp".getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex, 16) + 0.5) / 4294967296.0 - 0.5
    }
  }

  /** Sign-bucket of a vector under nPlanes hyperplanes. The dot products
    * are strict left folds (codegen'd ArrayDot — bit-identical to the HOF
    * fold, see PipelineSpec) against driver-precomputed literal lanes, so
    * bucket bits are bit-identical across engines and partitionings. */
  def lshBucket(vec: Column, nPlanes: Int, d: Int, seed: Long): Column =
    (0 until nPlanes).map { h =>
      when(graft.functions.ArrayDot.dot(vec,
        typedLit(hyperplaneValues(h, d, seed).toSeq)) >= 0.0, lit(1 << h)).otherwise(0)
    }.reduce(_ + _)

  /** Multi-table LSH ANN: `nTables` independent sign-buckets; candidates
    * share the query's bucket in ANY table (union of probes), then exact
    * top-k within candidates. The candidate join is an equi-join on
    * (table, bucket) — distributable by bucket at 100 TB; nTables trades
    * recall vs candidate volume (the reference's IVF n_probes knob).
    */
  def lshTopK(vectors: DataFrame, nQueries: Int, k: Int, nPlanes: Int = 4,
      d: Int = 64, seed: Long = 11, nTables: Int = 4): DataFrame = {
    val tables = array((0 until nTables).map { t =>
      struct(lit(t).as("tbl"),
        lshBucket(col("vec"), nPlanes, d, seed + t * 1000L).as("bucket"))
    }: _*)
    val bucketed = vectors.select(col("id"), col("vec"), explode(tables).as("tb"))
      .select(col("id"), col("vec"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val q = bucketed.where(col("id") < nQueries)
      .select(col("id").as("qid"), col("vec").as("qv"), col("tbl"), col("bucket"))
    val c = bucketed.select(col("id").as("nid"), col("vec").as("nv"), col("tbl"), col("bucket"))
    val cand = q.join(c, Seq("tbl", "bucket")).where(col("qid") =!= col("nid"))
      .select(col("qid"), col("qv"), col("nid"), col("nv"))
      .dropDuplicates("qid", "nid")
    val scored = cand.select(col("qid"), col("nid"), cosine(col("qv"), col("nv")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select(col("qid"), col("nid"), round(col("cos"), 4).as("cos"), col("rnk"))
  }

  /** Uint8 lane quantization with per-column min/max scales (the scalar-
    * quantization step of compressed ANN indexes): q = round(255·(x−mn)/
    * (mx−mn)); reports per-row reconstruction MSE. Scales are a broadcast
    * d-vector; quantize/dequantize are per-row lane expressions.
    */
  def quantizationError(vectors: DataFrame): DataFrame = {
    val lanes = vectors.select(posexplode(col("vec")).as(Seq("pos", "x")))
    val scales = lanes.groupBy(col("pos"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .agg(collect_list(struct(col("pos"), col("mn"), col("mx"))).as("s"))
      .select(transform(array_sort(col("s")), e => e.getField("mn")).as("mns"),
        transform(array_sort(col("s")), e => e.getField("mx")).as("mxs"))
    vectors.crossJoin(broadcast(scales))
      .select(col("id"),
        round(graft.functions.ArrayMath.foldSum(
          zip_with(col("vec"),
            zip_with(col("mns"), col("mxs"), (a, b) => struct(a.as("mn"), b.as("mx"))),
            (x, s) => {
              val mn = s.getField("mn"); val mx = s.getField("mx")
              val q = when(mx > mn, round((x - mn) / (mx - mn) * 255.0, 0)).otherwise(0.0)
              val deq = when(mx > mn, q / 255.0 * (mx - mn) + mn).otherwise(x)
              (x - deq) * (x - deq)
            }), identity) / size(col("vec")), 10).as("quant_mse"))
  }

  /** neighborhood_recall: |exact ∩ approx| / k per query, averaged —
    * reference: stats/neighborhood_recall.cuh:77. */
  def recallVsExact(vectors: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val exact = bruteForceTopK(vectors, nQueries, k).select(col("qid"), col("nid"))
    val approx = lshTopK(vectors, nQueries, k).select(col("qid"), col("nid"))
    exact.join(approx, Seq("qid", "nid"))
      .groupBy(col("qid")).agg(count(lit(1)).as("hits"))
      .agg(round(avg(col("hits").cast("double") / k), 4).as("recall"))
  }

  /** Matryoshka truncation recall (Kusupati et al. 2022): how much of
    * the full-dimension top-k survives when search uses only the first
    * `prefixDim` lanes — the eval a pipeline runs before shipping
    * truncated embeddings to cut index cost d/prefixDim-fold. Both
    * rankings are the exact [[bruteForceTopK]] (deterministic left-fold
    * cosine, id tiebreak); recall counts overlap over nQueries·k slots,
    * so zero-overlap queries count as zero instead of dropping out. */
  def matryoshkaRecall(vectors: DataFrame, nQueries: Int, k: Int,
      prefixDim: Int): DataFrame = {
    val full = bruteForceTopK(vectors, nQueries, k).select(col("qid"), col("nid"))
    val pre = bruteForceTopK(
      vectors.select(col("id"), slice(col("vec"), 1, prefixDim).as("vec")),
      nQueries, k).select(col("qid"), col("nid"))
    full.join(pre, Seq("qid", "nid"))
      .agg(count(lit(1)).as("hits"))
      .select(lit(nQueries).as("n_queries"), lit(k).as("k"),
        lit(prefixDim).as("prefix_dim"), col("hits"),
        (round(col("hits") / lit(nQueries.toLong * k).cast("double"), 4) + 0.0)
          .as("recall"))
  }

  /** Graph-search ANN (the CAGRA/HNSW family's search phase, batched):
    * beam search over a prebuilt kNN graph, run as ROUNDS of relational
    * frontier expansion instead of a per-query walk —
    *
    *   visited ← scored seed draws (md5-deterministic entry points)
    *   repeat `rounds`: frontier = per-query beam best of visited;
    *     expand 1 hop along the graph; score the new nodes; visited =
    *     min-merge — then answer = per-query top-k of visited.
    *
    * Every round is one graph equi-join (keyed by node) + one
    * bounded-heap beam aggregate, so a batch of millions of queries
    * advances one hop per round TOGETHER — the Spark shape of
    * multi-query beam search (per-query sequential walks would be a
    * driver loop per query; this is a driver loop per HOP, with all
    * queries inside the round). Deterministic replay: the output is a
    * pure function of (points, graph, seeds), so the oracle unrolls the
    * same rounds in SQL — the NN-descent replay-oracle pattern. Pair it
    * with [[graft.operators.DistanceOps.nnDescent]] (graph build) for
    * the end-to-end CAGRA analog; recall vs brute force is spec-pinned.
    * Returns (qid, node, dist, rnk). */
  def graphSearchTopK(points: DataFrame, graph: DataFrame, nQueries: Int,
      k: Int, beam: Int, rounds: Int, seed: Long = 11L): DataFrame =
    graphSearch(points, graph, nQueries, k, beam, rounds) { (q, n) =>
      q.select(col("qid"),
        explode(transform(sequence(lit(0), lit(beam - 1)),
          j => h32(concat_ws(":", col("qid"), j, lit(seed), lit("gs"))) % n)).as("node"))
        .where(col("node") =!= col("qid")).distinct()
    }

  /** [[graphSearchTopK]] with LANDMARK entry points (the HNSW upper-layer
    * idea, one level deep): seed each query with its `beam` exactly-
    * nearest landmarks (lowest-id points — the ball-cover landmark set)
    * instead of hash draws. The q×L broadcast join is tiny (L ≪ n), and
    * it removes the random-seed connectivity cap: a query's nearest
    * landmark is in its own cluster by construction of any reasonable
    * landmark set, so the walk starts on the right component. Still a
    * deterministic pure function of (points, graph) → replay oracle. */
  def graphSearchTopKLandmarks(points: DataFrame, graph: DataFrame, nQueries: Int,
      k: Int, beam: Int, rounds: Int, numLandmarks: Int): DataFrame =
    graphSearch(points, graph, nQueries, k, beam, rounds) { (q, _) =>
      import graft.functions.TopKAgg
      val lms = points.select(col("id").as("node"), col("vec").as("lvec"))
        .where(col("node") < numLandmarks)
      q.crossJoin(broadcast(lms))
        .where(col("node") =!= col("qid"))
        .select(col("qid"), sqrt(DistanceOps.l2sq(col("qv"), col("lvec"))).as("ld"), col("node"))
        .groupBy(col("qid")).agg(TopKAgg.topKMin(col("ld"), col("node"), beam).as("flat"))
        .select(col("qid"), explode(TopKAgg.decodeTopK(col("flat"))).as("e"))
        .select(col("qid"), col("e.j").as("node"))
    }

  /** kNN-graph OPTIMIZE (the CAGRA build trick made relational — Ootomo
    * et al. 2024, arXiv:2308.15136 §4; the published 2-hop "detourable
    * path" rule over the rank-ordered graph that nn_descent /
    * [[graft.operators.DistanceOps.knnGraph]] builds):
    *
    *   1. detour pruning — edge (s→d, rank r) is dropped when some
    *      intermediate m has edges (s→m) and (m→d) BOTH rank < r (the
    *      search can take the detour, so the direct edge buys nothing);
    *   2. forward cap — keep each node's `deg` lowest-rank survivors;
    *   3. reverse edges — survivors reversed, capped at `deg` per node,
    *      unioned in (they restore reachability pruning removed and give
    *      hub nodes inbound coverage).
    *
    * Every step is a keyed self-join or window over the EDGE LIST: the
    * 2-hop candidate set is Σ_m in(m)·out(m) ≈ n·k² rows keyed by the
    * middle node — linear in n, never n². Returns (src, dst, is_fwd)
    * with is_fwd = 1 when the edge survived forward (0 = reverse-only);
    * a pure function of the input graph, so the oracle replays the same
    * three relational steps in SQL. Recall effect is spec-pinned
    * (AnnSpec): pruning a k=10 graph to deg=5 beats the plain k=5 graph
    * at equal search cost. Input must carry (src, dst, rnk). */
  def optimizeKnnGraph(graph: DataFrame, deg: Int): DataFrame = {
    // eager materialization: the edge list feeds FIVE subtrees of one
    // action (both sides of the 2-hop join, the prune probe, both caps)
    // — without it the plan re-derives the graph build per subtree
    // (the minhashDupPairs lesson; verified via Explain)
    val e = graph.select(col("src"), col("dst"), col("rnk")).localCheckpoint(true)
    // best 2-hop detour rank per (src, dst): join keyed by the middle node
    val two = e.as("e1").join(e.as("e2"),
        col("e1.dst") === col("e2.src") && col("e1.src") =!= col("e2.dst"))
      .groupBy(col("e1.src").as("src"), col("e2.dst").as("dst"))
      .agg(min(greatest(col("e1.rnk"), col("e2.rnk"))).as("best2"))
    val kept = e.join(two, Seq("src", "dst"), "left_outer")
      .where(col("best2").isNull || col("best2") >= col("rnk"))
    val fwd = kept.withColumn("fr", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("rnk"), col("dst"))))
      .where(col("fr") <= deg)
      .select(col("src"), col("dst"), col("rnk"))
    val rev = fwd.select(col("dst").as("src"), col("src").as("dst"), col("rnk"))
      .withColumn("rr", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("rnk"), col("dst"))))
      .where(col("rr") <= deg)
    fwd.select(col("src"), col("dst"), lit(1).as("is_fwd"))
      .unionByName(rev.select(col("src"), col("dst"), lit(0).as("is_fwd")))
      .groupBy(col("src"), col("dst"))
      .agg(max(col("is_fwd")).as("is_fwd"))
  }

  private def graphSearch(points: DataFrame, graph: DataFrame, nQueries: Int,
      k: Int, beam: Int, rounds: Int)(
      seedFn: (DataFrame, Long) => DataFrame): DataFrame = {
    import graft.functions.TopKAgg
    val pts = points.select(col("id"), col("vec")).localCheckpoint(true)
    val n = pts.count()
    // eager edge materialization (r15, guide §1.2 — don't compute it
    // twice): `graph` is typically an unmaterialized kNN-graph BUILD (an
    // n² join + per-src window), and every beam round's expand join
    // re-executed that whole DAG — 6 rounds = 6 graph builds. The build
    // itself materializes INSIDE a stepped LoopPolicy scope sized by the
    // point count (probed: at session width with codegen+AQE the one-shot
    // n=500 build costs ~1 s of janino+wave latency, more than the six
    // interpreted re-runs it replaces — fixture-size builds want the
    // same narrow interpreted regime as the loop; at real scale the
    // policy gives full width anyway).
    val edges = graft.LoopPolicy.scope(points.sparkSession, Some(n), stepped = true) { _ =>
      graph.select(col("src").as("node"), col("dst")).localCheckpoint(true)
    }
    val e = edges.count()
    // the beam loop's `rounds` join+TopK stages run in a LoopPolicy scope,
    // as nnDescent's do. Sized by max(points, edges) (ADVICE r14): the
    // per-round shuffle carries the expanded frontier (~queries·beam·
    // degree rows ≤ edge count per hop) plus the visited set, which can
    // exceed the point count by the average degree. Result materialized
    // inside the scope.
    graft.LoopPolicy.scope(points.sparkSession, Some(math.max(n, e)), stepped = true) { _ =>
    val q = pts.where(col("id") < nQueries)
      .select(col("id").as("qid"), col("vec").as("qv")).localCheckpoint(true)
    def score(cand: DataFrame): DataFrame =
      cand.join(pts.select(col("id").as("node"), col("vec").as("nv")), Seq("node"))
        .join(q, Seq("qid"))
        .select(col("qid"), col("node"),
          sqrt(DistanceOps.l2sq(col("qv"), col("nv"))).as("d"))
    val seeds = seedFn(q, n)
    var visited = score(seeds).localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val top = visited.groupBy(col("qid"))
        .agg(TopKAgg.topKMin(col("d"), col("node"), beam).as("flat"))
        .select(col("qid"), explode(TopKAgg.decodeTopK(col("flat"))).as("e"))
        .select(col("qid"), col("e.j").as("node"))
      val expand = top.join(edges, Seq("node"))
        .select(col("qid"), col("dst").as("node"))
        .where(col("node") =!= col("qid")).distinct()
      // lazy: materialized by the next round's TopK aggregate (or the
      // final one) — saves one dedicated materialization job per round
      visited = visited.unionByName(score(expand))
        .groupBy(col("qid"), col("node")).agg(min(col("d")).as("d"))
        .localCheckpoint(false)
    }
    visited.groupBy(col("qid"))
      .agg(TopKAgg.topKMin(col("d"), col("node"), k).as("flat"))
      .select(col("qid"), explode(TopKAgg.decodeTopK(col("flat"))).as("e"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("e.c").asc, col("e.j").asc)))
      .select(col("qid"), col("e.j").as("node"),
        (round(col("e.c"), 4) + 0.0).as("dist"), col("rnk"))
      .localCheckpoint(true)
    }
  }
}
