package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.ArrayMath._

/** Dense matrix ops over the canonical `(id, vec ARRAY<DOUBLE>)` encoding
  * (SURVEY.md §1.5, §2.2, §2.6). Each op is a declarative DataFrame
  * transform: per-row lane work stays in codegen'd higher-order functions
  * (no shuffle); cross-row ops shuffle only on their natural key.
  */
object MatrixOps {

  /** slice: sub-matrix [r1,r2) × [c1,c2) —
    * reference: cpp/include/raft/matrix/slice.cuh:46.
    * Row predicate is pushed to the parquet scan; lane slice is per-row.
    */
  def slice(m: DataFrame, r1: Long, r2: Long, c1: Int, c2: Int): DataFrame =
    m.where(col("id") >= r1 && col("id") < r2)
      .select(col("id"), expr(s"slice(vec, ${c1 + 1}, ${c2 - c1})").as("vec"))

  /** gather: out[i] = in[map[i]] — reference: cpp/include/raft/matrix/gather.cuh:206.
    * A join against the (broadcastable) index table; Catalyst broadcasts
    * when the map side is small, which is the common gather shape.
    */
  def gather(m: DataFrame, idxMap: DataFrame): DataFrame =
    m.join(idxMap, m("id") === idxMap("src"))
      .select(idxMap("dst").as("id"), m("vec"))

  /** gather with a map-key transform: out[dst] = in[op(src)] — the lambda
    * applies to the gather key BEFORE the row lookup (reference:
    * matrix/gather.cuh:206 transform variant). Same broadcast-join shape as
    * plain gather; the transform is a pure expression on the (small) index
    * side, so it never touches the big table's scan.
    */
  def gatherTransform(m: DataFrame, idxMap: DataFrame,
      op: Column => Column): DataFrame =
    gather(m, idxMap.select(op(col("src")).as("src"), col("dst")))

  /** sample_rows: uniform row sample without replacement, exact n,
    * reproducible independent of partitioning —
    * reference: cpp/include/raft/matrix/sample_rows.cuh:30. RAFT's RNG is
    * counter-based Philox (random/rng_device.cuh) precisely so results don't
    * depend on launch shape; the Spark analog keys randomness off (id, seed)
    * via a hash, never `rand()`.
    */
  def sampleRows(m: DataFrame, n: Int, seed: Long): DataFrame =
    m.orderBy(md5(concat_ws(":", col("id"), lit(seed))), col("id")).limit(n)

  /** Per-row top-k lanes with payload positions (batched select_k) —
    * reference: cpp/include/raft/matrix/select_k.cuh:75; ties broken by
    * lowest index (select_k guarantees stable order for sorted=true).
    * Relational form: explode lanes, rank within row. The shuffle is keyed
    * by row id only; at scale each group is d lanes (bounded, no skew).
    */
  def selectKPerRow(m: DataFrame, k: Int, largest: Boolean = true): DataFrame = {
    val lanes = m.select(col("id"), posexplode(col("vec")).as(Seq("pos", "v")))
    val ord = if (largest) Seq(col("v").desc, col("pos").asc) else Seq(col("v").asc, col("pos").asc)
    val w = Window.partitionBy(col("id")).orderBy(ord: _*)
    lanes.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
  }

  /** sort_cols_per_row: sort each row's lanes —
    * reference: cpp/include/raft/matrix/col_wise_sort.cuh:66. */
  def sortLanes(m: DataFrame): DataFrame =
    m.select(col("id"), sort_array(col("vec")).as("vec"))

  /** sort_cols_per_row with key payload: sort (value, index) pairs so the
    * permutation is recoverable — the sort_keys variant of
    * col_wise_sort.cuh:66. */
  def sortLanesWithKeys(m: DataFrame): DataFrame =
    m.select(col("id"),
      array_sort(arrays_zip(col("vec").as("v"),
        sequence(lit(0), size(col("vec")) - 1).as("k"))).as("sorted"))
      .select(col("id"),
        col("sorted.v").as("vals"), col("sorted.k").as("keys"))

  /** Column-wise rank transform: the rank of every entry WITHIN its lane
    * across all n rows — the transpose-orientation counterpart of
    * [[sortLanes]] (reference col_wise_sort.cuh:66 sorts within a row;
    * this orders each feature column over the whole matrix), and the
    * building block of quantile normalization / per-feature Spearman.
    * ONE TeraSort-shape pass over the exploded lanes: a global
    * row_number under the total order (pos, v, id) via
    * [[RankUtils.globalRowNumber]] (range partition + broadcast boundary
    * offsets — never an unpartitioned window), then
    * rank-within-column = global_rn − pos·n, exact because every column
    * holds n entries. All-integer output, hash-stable by construction. */
  def colRanks(m: DataFrame, n: Long): DataFrame =
    colRanked(m, n).select(col("id"), col("pos"), col("rnk"))

  /** [[colRanks]] with the value carried through — the shared pass behind
    * the rank transform and [[quantileNormalize]]. */
  private def colRanked(m: DataFrame, n: Long): DataFrame = {
    val lanes = m.select(col("id"), posexplode(col("vec")).as(Seq("pos", "v")))
    RankUtils.globalRowNumber(lanes,
        Seq(col("pos").cast("long"), col("v"), col("id")), "rn")
      .select(col("id"), col("pos"), col("v"),
        (col("rn") - col("pos").cast("long") * n).as("rnk"))
  }

  /** Quantile normalization (the microarray-era feature equalizer, still
    * the standard per-feature distribution aligner): every entry is
    * replaced by the MEAN of the rank-matched entries across all columns,
    * so every column ends up with the identical empirical distribution.
    * One [[colRanked]] TeraSort pass, one n-row rank-keyed aggregate for
    * the reference distribution, one equi-join back on rank. */
  def quantileNormalize(m: DataFrame, n: Long): DataFrame = {
    val ranked = colRanked(m, n).localCheckpoint(true) // feeds agg + join
    val ref = ranked.groupBy(col("rnk")).agg(avg(col("v")).as("qv"))
    ranked.join(ref, Seq("rnk"))
      .select(col("id"), col("pos"), col("qv"))
  }

  /** gather_if: gather rows by map with a predicate on map entries —
    * reference: cpp/include/raft/matrix/gather.cuh:123 (gather_if). */
  def gatherIf(m: DataFrame, idxMap: DataFrame, pred: Column): DataFrame =
    m.join(idxMap.where(pred), m("id") === idxMap("src"))
      .select(idxMap("dst").as("id"), m("vec"))

  /** col_reverse: flip lane order — reference: cpp/include/raft/matrix/reverse.cuh:29. */
  def colReverse(m: DataFrame): DataFrame =
    m.select(col("id"), reverse(col("vec")).as("vec"))

  /** row_reverse: flip row order (re-key id -> n-1-id) —
    * reference: cpp/include/raft/matrix/reverse.cuh:49. */
  def rowReverse(m: DataFrame, n: Long): DataFrame =
    m.select((lit(n - 1) - col("id")).as("id"), col("vec"))

  /** shift rows down by 1 with a neighbor-carried value — the window
    * lag/lead mapping of reference cpp/include/raft/matrix/shift.cuh:45.
    * Distributed lag via [[RankUtils.globalLag]] (range-partition on id,
    * lag within partitions in parallel, one boundary row exchanged per
    * partition) — a bare `Window.orderBy(id)` would plan
    * `Exchange SinglePartition` and move EVERY row to one task.
    */
  def shiftedRowSums(m: DataFrame): DataFrame =
    RankUtils.globalLag(
        m.select(col("id"), rowSum(col("vec")).as("s")),
        Seq(col("id")), col("s"), "prev", lit(0.0))
      .select(col("id"), round(col("prev"), 4).as("prev_sum"))

  /** Lane shift right by k with a fill value (the in-row form of
    * reference matrix/shift.cuh:45 col_shift with fill). */
  def shiftLanes(m: DataFrame, k: Int, fill: Double): DataFrame =
    m.select(col("id"),
      concat(array_repeat(lit(fill), k),
        org.apache.spark.sql.functions.slice(
          col("vec"), lit(1), size(col("vec")) - k)).as("vec"))

  /** eye: identity matrix in COO form —
    * reference: cpp/include/raft/matrix/diagonal.cuh:92. */
  def eye(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("row"), col("id").as("col"), lit(1.0).as("value"))

  // ---- queries over the testdata `embeddings` table ----

  /** Row norms L0/L1/L2/Linf in one pass — reference: linalg/norm.cuh:51,
    * norm_types.hpp; one codegen'd fold per norm, no shuffle. */
  def rowNorms(spark: SparkSession, dir: String): DataFrame =
    Tables.vectors(spark, dir).select(
      col("id"),
      l0(col("vec")).as("l0"),
      round(l1(col("vec")), 4).as("l1"),
      round(l2(col("vec")), 4).as("l2"),
      round(linf(col("vec")), 4).as("linf"))

  /** Per-row argmax/argmin (0-based, lowest-index ties) —
    * reference: matrix/argmax.cuh:28, argmin.cuh:28. */
  def argmaxArgmin(spark: SparkSession, dir: String): DataFrame =
    Tables.vectors(spark, dir).select(
      col("id"),
      argmax(col("vec")).as("amax"),
      argmin(col("vec")).as("amin"))

  /** Per-row fold stats (reduce along rows with fused ops) —
    * reference: linalg/reduce.cuh:148 (main_op/reduce_op/final_op). */
  def rowFoldStats(spark: SparkSession, dir: String): DataFrame =
    Tables.vectors(spark, dir).select(
      col("id"),
      round(rowSum(col("vec")), 4).as("rsum"),
      round(rowMean(col("vec")), 6).as("rmean"),
      round(rowMin(col("vec")), 4).as("rmin"),
      round(rowMax(col("vec")), 4).as("rmax"))

  /** Column-wise mean/var/min/max via lane explode + groupBy(pos) —
    * reference: stats/mean.cuh:37, stddev.cuh:38, minmax.cuh:49.
    * Map-side partial aggregation applies; shuffle carries d×32 partials,
    * not n×d lanes (see StatsOps.colStatsViaAggregator for the
    * single-pass Aggregator variant used at scale).
    */
  def colStats(spark: SparkSession, dir: String): DataFrame =
    Tables.vectors(spark, dir)
      .select(posexplode(col("vec")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(
        round(avg(col("x")), 6).as("mean"),
        round(var_samp(col("x")), 6).as("var"),
        round(min(col("x")), 4).as("mn"),
        round(max(col("x")), 4).as("mx"))

  /** gemv y = A·w with a broadcast weight vector —
    * reference: cpp/include/raft/linalg/gemv.cuh:44. The weight vector is a
    * deterministic expression of the lane index so the oracle can rebuild it.
    */
  def gemvFixedWeights(spark: SparkSession, dir: String): DataFrame = {
    val w = transform(sequence(lit(0), lit(63)), j => pmod(j * 37, lit(97)).cast("double") / 97.0)
    Tables.vectors(spark, dir)
      .select(col("id"), round(dot(col("vec"), w), 4).as("y"))
  }

  /** General dense gemm C = α·A·Bᵀ + β·C₀ for two *distinct* dense
    * row-matrices — reference: cpp/include/raft/linalg/gemm.cuh:51-221
    * (α/β composition; B arrives transposed, the row-major device layout).
    * Lowering: broadcast the small side (here Bᵀ: p rows of the shared
    * dimension k), per-cell strict fold dot — deterministic lane order, no
    * shuffle at all for tall×skinny gemm, which is the dominant shape.
    * C₀ joins in as a COO table on (i,j); output is COO (i, j, value).
    * For big×big the same contraction lowers to [[SparseOps.spgemm]] over
    * lane-exploded COO (shuffled equi-join on k).
    */
  def gemm(a: DataFrame, bt: DataFrame, alpha: Double, beta: Double,
      c0: DataFrame): DataFrame = {
    val ab = a.select(col("id").as("i"), col("vec").as("va"))
      .crossJoin(broadcast(bt.select(col("id").as("j"), col("vec").as("vb"))))
      .select(col("i"), col("j"), dot(col("va"), col("vb")).as("ab"))
    ab.join(c0.select(col("i"), col("j"), col("value").as("c0")), Seq("i", "j"), "left")
      .select(col("i"), col("j"),
        (lit(alpha) * col("ab") + lit(beta) * coalesce(col("c0"), lit(0.0))).as("value"))
  }

  /** Small gram block: pairwise dot products of the first 20 rows —
    * the gemm-as-join mapping (reference: linalg/gemm.cuh:51; SURVEY §2.4).
    */
  def gramBlock(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.vectors(spark, dir).where(col("id") < 20)
    val a = v.select(col("id").as("i"), col("vec").as("va"))
    val b = v.select(col("id").as("j"), col("vec").as("vb"))
    a.join(broadcast(b), col("i") <= col("j"))
      .select(col("i"), col("j"), round(dot(col("va"), col("vb")), 4).as("dp"))
  }

  /** mean_center: subtract per-column means (first 30 rows emitted) —
    * reference: cpp/include/raft/stats/mean_center.cuh:78. The mean vector
    * is a one-row aggregate cross-joined (broadcast) back — the
    * matrix_vector_op broadcast shape (linalg/matrix_vector_op.cuh:139).
    */
  /** Per-column mean as a single 1-row ARRAY column (broadcast shape). */
  private def columnMeanVec(v: DataFrame): DataFrame =
    v.select(posexplode(col("vec")).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(avg(col("x")).as("m"))
      .agg(collect_list(struct(col("pos"), col("m"))).as("pm"))
      .select(transform(array_sort(col("pm")), s => s.getField("m")).as("mean_vec"))

  def meanCenter(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.vectors(spark, dir)
    v.crossJoin(broadcast(columnMeanVec(v)))
      .where(col("id") < 30)
      .select(col("id"), sub(col("vec"), col("mean_vec")).as("vec"))
  }

  /** mean_add: add per-column means back (inverse of mean_center) —
    * reference: cpp/include/raft/stats/mean_center.cuh:118 (mean_add).
    * Exercised as the mean_center round-trip: output equals the original
    * rows at declared precision. */
  def meanAdd(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.vectors(spark, dir)
    meanCenter(spark, dir).crossJoin(broadcast(columnMeanVec(v)))
      .select(col("id"), add(col("vec"), col("mean_vec")).as("vec"))
  }

  /** L2 row-normalize (first 30 rows emitted) —
    * reference: cpp/include/raft/linalg/normalize.cuh:48. */
  def normalizeL2(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.vectors(spark, dir).where(col("id") < 30)
    v.select(col("id"), normalize(col("vec"), l2(col("vec"))).as("vec"))
  }

  /** normalize with the L1 / L∞ norm types — reference:
    * linalg/normalize.cuh:48 (row_normalize norm-type parameter). */
  def normalizeL1(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.vectors(spark, dir).where(col("id") < 30)
    v.select(col("id"), normalize(col("vec"), l1(col("vec"))).as("vec"))
  }
  def normalizeLinf(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.vectors(spark, dir).where(col("id") < 30)
    v.select(col("id"), normalize(col("vec"), linf(col("vec"))).as("vec"))
  }

  /** threshold + L0: zero lanes |x| < eps, count survivors —
    * reference: matrix/threshold.cuh:32 + L0 norm. */
  def thresholdNnz(spark: SparkSession, dir: String, eps: Double): DataFrame =
    Tables.vectors(spark, dir).select(
      col("id"),
      l0(threshold(col("vec"), lit(eps))).as("nnz"))

  /** reduce_rows_by_key: Σ of vectors per key via the native vector_sum
    * aggregate — reference: linalg/reduce_rows_by_key.cuh:141. One shuffle
    * carrying (#keys × d) partials, not n×d lanes; emitted exploded for the
    * oracle compare. */
  def reduceRowsByKey(spark: SparkSession, dir: String): DataFrame =
    Tables.vectors(spark, dir)
      .groupBy(col("label"))
      .agg(graft.functions.VectorAgg.vectorSum(col("vec")).as("vsum"))
      .select(col("label"), posexplode(col("vsum")).as(Seq("pos", "s")))
      .select(col("label"), col("pos"), round(col("s"), 4).as("s"))

  /** reduce_cols_by_key: out[i,k] = Σ_{j: j mod 4 = k} in[i,j] — an in-row
    * indexed fold, no shuffle at all —
    * reference: linalg/reduce_cols_by_key.cuh:40. */
  def reduceColsByKey(spark: SparkSession, dir: String): DataFrame =
    Tables.vectors(spark, dir)
      .select(col("id"), posexplode(
        transform(sequence(lit(0), lit(3)), k =>
          aggregate(zip_with(col("vec"), sequence(lit(0), size(col("vec")) - 1),
              (x, i) => when(pmod(i, lit(4)) === k, x).otherwise(0.0)),
            lit(0.0), (acc, x) => acc + x)))
        .as(Seq("k", "s")))
      .select(col("id"), col("k"), round(col("s"), 4).as("s"))

  /** sign_flip: flip each column's sign so its max-|x| element is positive
    * (the deterministic post-SVD sign convention) —
    * reference: cpp/include/raft/matrix/sign_flip.cuh:30.
    * Ties on |x| broken by lowest row id. Signs are a d-length broadcast.
    */
  def signFlip(spark: SparkSession, dir: String): DataFrame = {
    val lanes = Tables.vectors(spark, dir)
      .select(col("id"), posexplode(col("vec")).as(Seq("pos", "x")))
    val signs = lanes.groupBy(col("pos"))
      .agg(max(struct(abs(col("x")).as("a"), (-col("id")).as("nid"),
        when(col("x") >= 0, 1.0).otherwise(-1.0).as("s"))).as("m"))
      .select(col("pos"), col("m.s").as("s"))
      .agg(collect_list(struct(col("pos"), col("s"))).as("ps"))
      .select(transform(array_sort(col("ps")), p => p.getField("s")).as("sign_vec"))
    Tables.vectors(spark, dir).crossJoin(broadcast(signs))
      .where(col("id") < 30)
      .select(col("id"),
        zip_with(col("vec"), col("sign_vec"), (x, s) => x * s).as("vec"))
  }

  /** reciprocal: 1/x with zero-guard —
    * reference: cpp/include/raft/matrix/reciprocal.cuh:35. */
  def reciprocalRowSums(spark: SparkSession, dir: String): DataFrame =
    Tables.vectors(spark, dir).select(col("id"),
      round(when(rowSum(col("vec")) =!= 0.0, lit(1.0) / rowSum(col("vec")))
        .otherwise(0.0), 8).as("recip"))

  /** row_weighted_mean: Σ w_j·x_j / Σ w_j per row with a broadcast weight
    * vector — reference: stats/weighted_mean.cuh:36 (rowWeightedMean; the
    * column variant :56 is the same fold over the transposed encoding,
    * covered by stat_weighted_mean's grouped form). */
  def rowWeightedMean(spark: SparkSession, dir: String): DataFrame = {
    val w = transform(sequence(lit(0), lit(63)), j => pmod(j * 11, lit(23)).cast("double") + 1.0)
    val wsum = (0 until 64).map(j => ((j * 11) % 23) + 1.0).sum
    Tables.vectors(spark, dir).select(col("id"),
      round(graft.functions.ArrayMath.dot(col("vec"), w) / wsum, 6).as("wmean"))
  }

  /** ratio: each row's share of the global sum —
    * reference: matrix/ratio.cuh:31 (x/sum(x) over the whole matrix). */
  def rowRatio(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.vectors(spark, dir).select(col("id"), rowSum(col("vec")).as("rs"))
    val tot = v.agg(sum(col("rs")).as("tot"))
    v.crossJoin(broadcast(tot))
      .select(col("id"), round(col("rs") / col("tot"), 8).as("ratio"))
  }

  /** scatter: out[map[i]] = in[i] with a bijective expression map —
    * reference: cpp/include/raft/matrix/scatter.cuh:41. */
  def scatterRowSums(spark: SparkSession, dir: String, n: Long): DataFrame =
    Tables.vectors(spark, dir)
      .select(pmod(col("id") * 7, lit(n)).as("id"),
        round(rowSum(col("vec")), 4).as("rsum"))
}
