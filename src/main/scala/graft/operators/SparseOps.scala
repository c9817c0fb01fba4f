package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.ArrayMath

/** Sparse ops over the canonical COO table `(row, col, value)` — the
  * "COO is an edge list" encoding (reference: cpp/include/raft/core/
  * coo_matrix.hpp:87, SURVEY.md §1.5). Every op is pure relational algebra:
  * group-by for reductions, join for products — the shapes Catalyst knows
  * how to distribute, broadcast, and AQE-replan at 100 TB.
  */
object SparseOps {

  /** coo_degree / coo_degree_nz: per-row nonzero count —
    * reference: cpp/include/raft/sparse/linalg/degree.cuh:27-90. */
  def degree(coo: DataFrame): DataFrame =
    coo.groupBy(col("row")).agg(count(lit(1)).as("deg"), sum(col("value")).as("vsum"))

  /** Sparse A + B with pattern union — reference:
    * cpp/include/raft/sparse/linalg/add.cuh:33 (csr_add_calc/csr_add_finalize
    * two-phase row merge ≡ one keyed aggregate on the COO encoding). */
  def add(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("row"), col("col"))
      .agg(sum(col("value")).as("value"))

  /** Per-sparse-row norms L0/L1/L2/Linf —
    * reference: cpp/include/raft/sparse/linalg/norm.cuh:39 (csr_row_normalize
    * norms); one keyed aggregate, no lane materialization. */
  def rowNorms(coo: DataFrame): DataFrame =
    coo.groupBy(col("row")).agg(
      count(lit(1)).as("l0"),
      sum(abs(col("value"))).as("l1"),
      sqrt(sum(col("value") * col("value"))).as("l2"),
      max(abs(col("value"))).as("linf"))

  /** csr_row_normalize: scale every entry by its row's norm — reference:
    * sparse/linalg/norm.cuh:39. A per-row window sum (no join, one shuffle
    * keyed by row); zero-norm rows pass through, matching the dense
    * normalize's eps-guard semantics. */
  def rowNormalize(coo: DataFrame, norm: String = "l2"): DataFrame = {
    val w = Window.partitionBy(col("row"))
    val n = norm match {
      case "l1"   => sum(abs(col("value"))).over(w)
      case "linf" => max(abs(col("value"))).over(w)
      case _      => sqrt(sum(col("value") * col("value")).over(w))
    }
    coo.select(col("row"), col("col"),
      when(n =!= 0.0, col("value") / n).otherwise(col("value")).as("value"))
  }

  /** Dense (id, vec) → COO lanes — reference: sparse/convert/coo.cuh. */
  def denseToCoo(m: DataFrame): DataFrame =
    m.select(col("id").as("row"), posexplode(col("vec")).as(Seq("col", "value")))

  /** COO → dense (id, vec), given the lane count — reference:
    * sparse/convert/dense.cuh:35. Missing positions fill with 0.0; one
    * keyed aggregate (collect + sort is per-row d lanes, bounded). */
  def cooToDense(coo: DataFrame, d: Int): DataFrame =
    coo.groupBy(col("row").as("id"))
      .agg(map_from_entries(collect_list(
        struct(col("col").cast("long").as("k"), col("value").as("v")))).as("m"))
      .select(col("id"), transform(sequence(lit(0L), lit(d - 1L)), j =>
        coalesce(element_at(col("m"), j), lit(0.0))).as("vec"))

  /** transpose: swap row/col — reference: cpp/include/raft/linalg/transpose.cuh:30
    * (on the COO encoding a transpose is a projection, zero compute). */
  def transpose(coo: DataFrame): DataFrame =
    coo.select(col("col").as("row"), col("row").as("col"), col("value"))

  /** max_duplicates: dedup (row,col) keeping the max value —
    * reference: cpp/include/raft/sparse/op/reduce.cuh:39. */
  def maxDuplicates(coo: DataFrame): DataFrame =
    coo.groupBy(col("row"), col("col")).agg(max(col("value")).as("value"))

  /** coo_remove_scalar: drop entries == s (or below a threshold) —
    * reference: cpp/include/raft/sparse/op/filter.cuh:38. */
  def removeBelow(coo: DataFrame, threshold: Double): DataFrame =
    coo.where(col("value") >= threshold)

  /** csr_row_slice: row range — reference: cpp/include/raft/sparse/op/slice.cuh:30.
    * The predicate pushes down to the scan when the COO is stored
    * row-partitioned/sorted (parquet min-max pruning).
    */
  def rowSlice(coo: DataFrame, r1: Long, r2: Long): DataFrame =
    coo.where(col("row") >= r1 && col("row") < r2)

  /** csr_row_op: apply a caller-supplied operation over each row's
    * CONTIGUOUS entry slice — reference: sparse/op/row_op.cuh:29 (the
    * functor there receives (row, start, stop) into the nnz array; the
    * Spark-first equivalent hands the op the row's ordered (cols, values)
    * lane arrays and re-explodes its result). One keyed aggregate builds
    * the slice (bounded by the row width, like the reference's per-row
    * thread block), the op is pure column expressions (codegen'd HOFs),
    * and the result returns to COO form — no driver state, shuffle keyed
    * by row only. Ops that are expressible as plain per-row aggregates
    * should use groupBy directly ([[rowNorms]]); rowOp exists for
    * POSITION-DEPENDENT slice semantics (prefix scans, per-row softmax,
    * head/tail masking) that need the whole ordered slice at once.
    *
    * @param op (cols, values) ⇒ new values array, same length/order.
    */
  def rowOp(coo: DataFrame,
      op: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column): DataFrame = {
    val es = array_sort(collect_list(struct(col("col"), col("value"))))
    coo.groupBy(col("row")).agg(es.as("es"))
      .select(col("row"),
        transform(col("es"), e => e.getField("col")).as("cs"),
        transform(col("es"), e => e.getField("value")).as("vs"))
      .select(col("row"),
        posexplode(zip_with(col("cs"), op(col("cs"), col("vs")),
          (c, v) => struct(c.as("col"), v.as("value")))).as(Seq("pos", "e")))
      .select(col("row"), col("e.col").as("col"), col("e.value").as("value"))
  }

  /** Per-row prefix sum in column order — the canonical position-dependent
    * [[rowOp]] instance (equivalent to a row-partitioned running-sum
    * window, but computed inside the row slice like the reference functor
    * would). */
  def rowPrefixSum(coo: DataFrame): DataFrame =
    rowOp(coo, (_, vs) =>
      // ONE linear scan (ADVICE r9): the accumulator carries (running
      // sum, prefix array) and each step is an add plus a flat array
      // append — not the slice+re-aggregate-per-position form, which is
      // O(k²) additions on a k-entry row (a 10k-entry row would pay ~50M)
      aggregate(vs,
        struct(lit(0.0).as("s"), array().cast("array<double>").as("out")),
        (acc, x) => struct(
          (acc.getField("s") + x).as("s"),
          concat(acc.getField("out"), array(acc.getField("s") + x)).as("out")),
        acc => acc.getField("out")))

  /** spmv y = A·w with w a deterministic function of the column index —
    * reference: cpp/include/raft/sparse/linalg/spmm.hpp:42 (vector case).
    * No join needed when w is an expression; with a materialized w table
    * this is a broadcast join on col. Aggregation is keyed by row.
    */
  def spmvFixedWeights(coo: DataFrame): DataFrame =
    coo.groupBy(col("row"))
      .agg(round(sum(col("value") * (pmod(col("col") * 53, lit(101)).cast("double") / 101.0)), 4).as("y"))

  /** spgemm AᵀA: column-column co-occurrence via self-join on row —
    * the join+group-by lowering of gemm (reference: linalg/gemm.cuh:51,
    * SURVEY.md §2.4; tested as spgemmi in cpp/tests/sparse/spgemmi.cu).
    * Shuffle key = row on the join, (c1,c2) on the aggregate — both
    * well-distributed when rows are bounded (orders have bounded lines).
    */
  def spgemmAtA(coo: DataFrame): DataFrame = {
    val a = coo.select(col("row"), col("col").as("c1"), col("value").as("v1"))
    val b = coo.select(col("row"), col("col").as("c2"), col("value").as("v2"))
    a.join(b, Seq("row"))
      .where(col("c1") <= col("c2"))
      .groupBy(col("c1"), col("c2"))
      .agg(round(sum(col("v1") * col("v2")), 2).as("dp"), count(lit(1)).as("nnz"))
  }

  /** sddmm: dense·dense sampled at a sparse pattern —
    * reference: cpp/include/raft/sparse/linalg/sddmm.hpp:43 and
    * masked_matmul.cuh:47. The pattern drives two joins against the dense
    * vector table; only pattern-selected dot products are computed.
    */
  def sddmm(pattern: DataFrame, dense: DataFrame): DataFrame = {
    val a = dense.select(col("id").as("i"), col("vec").as("va"))
    val b = dense.select(col("id").as("j"), col("vec").as("vb"))
    // + 0.0 canonicalizes IEEE −0.0 → +0.0: near-zero dot products can round
    // to −0.0 under C-library rounding (DuckDB) but never under Spark's
    // BigDecimal round; both engines must emit the same sign bit.
    pattern.join(a, Seq("i")).join(b, Seq("j"))
      .select(col("i"), col("j"),
        (round(ArrayMath.dot(col("va"), col("vb")), 4) + 0.0).as("dp"))
  }

  /** General spgemm C = A·B via join on the contraction index —
    * reference: cuSPARSE spgemm (tested cpp/tests/sparse/spgemmi.cu);
    * the same equi-join + hash-aggregate lowering as AᵀA, shuffled on the
    * shared dimension.
    */
  def spgemm(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("row"), col("col").as("k"), col("value").as("va"))
      .join(b.select(col("row").as("k"), col("col"), col("value").as("vb")), Seq("k"))
      .groupBy(col("row"), col("col"))
      .agg(sum(col("va") * col("vb")).as("value"))

  /** masked_matmul: (A·Bᵀ) ⊙ bitmask — the mask arrives as a pattern table
    * of masked-in (i,j) pairs; only those dot products compute —
    * reference: cpp/include/raft/sparse/linalg/masked_matmul.cuh:47.
    * The pattern must be generated or stored sparsely (see
    * [[modularMaskPattern]]) — never enumerate n×n then filter.
    */
  def maskedMatmul(dense: DataFrame, pattern: DataFrame): DataFrame =
    sddmm(pattern, dense)

  /** Masked pairs {(i,j) : i<j<n, (a·i + b·j) ≡ 0 mod m} generated
    * directly: per-i arithmetic progression of qualifying j with stride m —
    * O(n²/m) rows produced by a generator distributed over i, no
    * CartesianProduct and no n×n enumeration. b must be coprime with m.
    */
  def modularMaskPattern(spark: SparkSession, n: Long, a: Int, b: Int,
      m: Int): DataFrame = {
    val inv = (1 until m).find(x => (x * b) % m == 1).getOrElse(
      throw new IllegalArgumentException(s"$b not invertible mod $m"))
    // j ≡ (−a·inv)·i (mod m); first qualifying j above i
    val r = pmod(lit(-a.toLong * inv) * col("id"), lit(m))
    val start = col("id") + 1 + pmod(r - (col("id") + 1), lit(m))
    spark.range(n).select(col("id").as("i"),
        when(col("id") + 1 + pmod(r - (col("id") + 1), lit(m)) <= lit(n - 1),
          sequence(start, lit(n - 1), lit(m.toLong))).otherwise(array())
          .as("js"))
      .select(col("i"), explode(col("js")).as("j"))
  }

  /** triangular: keep the upper (or lower) triangle —
    * reference: cpp/include/raft/matrix/triangular.cuh:28. A pure pushdown
    * predicate on the COO encoding. */
  def triangular(coo: DataFrame, upper: Boolean = true): DataFrame =
    coo.where(if (upper) col("col") >= col("row") else col("col") <= col("row"))

  /** sparse diagonal extraction —
    * reference: cpp/include/raft/sparse/matrix/diagonal.cuh:36. */
  def diagonal(coo: DataFrame): DataFrame =
    coo.where(col("row") === col("col")).select(col("row"), col("value").as("dval"))

  /** invert_diagonal: 1/d with zero-guard —
    * reference: cpp/include/raft/sparse/matrix/diagonal.cuh:74. */
  def invertDiagonal(coo: DataFrame): DataFrame =
    diagonal(coo).select(col("row"), col("dval"),
      when(col("dval") =!= 0.0, lit(1.0) / col("dval")).otherwise(0.0).as("inv_dval"))

  /** set_diagonal: overwrite existing diagonal entries with a scalar —
    * reference: cpp/include/raft/matrix/diagonal.cuh:57 (set variant). */
  def setDiagonal(coo: DataFrame, v: Double): DataFrame =
    coo.select(col("row"), col("col"),
      when(col("row") === col("col"), lit(v)).otherwise(col("value")).as("value"))

  /** scale_by_diagonal_symmetric: out_ij = a_ij / √(d_i·d_j) (the
    * normalized-adjacency scaling) — reference:
    * cpp/include/raft/sparse/matrix/diagonal.cuh:84. Two equi-joins against
    * the (broadcastable) diagonal table — AQE picks broadcast vs shuffle.
    */
  def scaleByDiagonalSymmetric(coo: DataFrame, diag: DataFrame): DataFrame = {
    val dr = diag.select(col("row"), col("dval").as("dr"))
    val dc = diag.select(col("row").as("col"), col("dval").as("dc"))
    coo.join(dr, Seq("row")).join(dc, Seq("col"))
      .select(col("row"), col("col"),
        (col("value") / sqrt(col("dr") * col("dc"))).as("value"))
  }

  /** Per-sparse-row top-k by value (select_k CSR) —
    * reference: cpp/include/raft/sparse/matrix/select_k.cuh:64;
    * ties broken by lowest column index. */
  def selectKPerRow(coo: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("row")).orderBy(col("value").desc, col("col").asc)
    coo.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
  }

  /** Graph Laplacian L = D − A over a symmetric weighted edge list —
    * reference: cpp/include/raft/sparse/linalg/laplacian.cuh:20.
    * Single-pass form: each edge (r,c,v) explodes into its off-diagonal
    * entry (r,c,−v) and its diagonal contribution (r,r,+v), then one keyed
    * aggregate sums the diagonal. Unlike the union-of-two-aggregates
    * formulation this evaluates the (possibly expensive) symEdges subtree
    * exactly once — at 100 TB that halves the dominant scan+shuffle.
    */
  def laplacian(symEdges: DataFrame): DataFrame =
    symEdges.select(col("row"), explode(array(
        struct(col("row").cast("long").as("col"), col("value")),
        struct(col("col").cast("long").as("col"), (-col("value")).as("value"))))
        .as("e"))
      .groupBy(col("row"), col("e.col").as("col"))
      .agg(sum(col("e.value")).as("value"))

  /** Symmetric-normalized Laplacian L̂ = D^{-1/2} L D^{-1/2}
    * (= I − D^{-1/2} A D^{-1/2}): the [[laplacian]] entries scaled by
    * 1/√(dᵢ·dⱼ) with d the weighted degree — the spectral-clustering
    * form. Reference: sparse/linalg/laplacian.cuh
    * (laplacian_normalized). Two equi-joins of the Laplacian COO
    * against the node-sized degree table (AQE broadcasts when small);
    * zero-degree rows pass through unscaled (their L row is all-zero). */
  def laplacianNormalized(symEdges: DataFrame): DataFrame = {
    val deg = symEdges.groupBy(col("row").as("i")).agg(sum(col("value")).as("d"))
    laplacian(symEdges)
      .join(deg.select(col("i").as("row"), col("d").as("dr")), Seq("row"))
      .join(deg.select(col("i").as("col"), col("d").as("dc")), Seq("col"))
      .select(col("row"), col("col"),
        when(col("dr") > 0.0 && col("dc") > 0.0,
          col("value") / sqrt(col("dr") * col("dc")))
          .otherwise(col("value")).as("value"))
  }

  /** spmm: C = A·B with A a COO sparse matrix and B a *materialized* dense
    * row-matrix table `(id, vec ARRAY<DOUBLE>)` keyed by A's column index —
    * reference: cpp/include/raft/sparse/linalg/spmm.hpp:42. One call of the
    * sparse × dense core: A is checkpointed in the [[rowSorted]] layout, B
    * once as-is (its count sizes the [[spmmA]] dispatch), and each output
    * row folds its own nonzeros in order, the CSR form of the reference.
    * The result is a lazy checkpoint: its plan is fixed under the core's
    * confs (an unsized [[graft.LoopPolicy]] scope), so it runs the same whenever
    * the caller consumes it, and the caller's confs are never changed.
    * Nothing is exploded before the aggregate: the checkpoint holds one
    * d-vector per row, exploded to (row, pos, v) scalars on the way out.
    */
  def spmm(coo: DataFrame, b: DataFrame): DataFrame = {
    graft.LoopPolicy.scope(coo.sparkSession, None, stepped = false) { parts =>
      val x = b.select(col("id"), col("vec").as("v")).localCheckpoint(true)
      val sized = x.agg(count(lit(1)), coalesce(max(size(col("v"))), lit(0))).head()
      spmmA(rowSorted(coo, parts), x, sized.getLong(0), sized.getInt(1))
        .localCheckpoint(false)
    }.select(col("id").as("row"), posexplode(col("v")).as(Seq("pos", "v")))
  }

  /** Largest dense operand X, in bytes of its lanes (rows × width × 8),
    * that [[spmmA]] broadcasts. Measured on a 4-core host in local mode
    * with a 4 GB driver heap: A·X over 2e6 row-sorted nonzeros, X of width
    * 10 lanes, every edge matched, the two legs alternating, 3 runs each.
    * The broadcast leg took 1.7–5.2 s against 5.1–12.0 s for the shuffled
    * one at 16 MB, 2.0–2.8 s against 4.0–5.5 s at 64 MB and 3.6–3.8 s
    * against 5.1–5.9 s at 128 MB. At 256 MB the two tied (6.7–7.5 s
    * against 6.7–8.9 s), and the third broadcast failed with "Not enough
    * memory to build and broadcast the table". 64 MB keeps most of the
    * gain and a 4× margin under that failure, so a driver with half that
    * heap stays safe. */
  private[graft] val SpmmBroadcastBytes: Long = 64L << 20

  /** A COO `(row, col, value)` in the sparse × dense core's layout:
    * hash-partitioned on `row` into `parts` partitions, sorted by
    * (row, col, value) within them, and checkpointed eagerly. The
    * checkpoint carries that partitioning and ordering, so neither form of
    * the core exchanges or sorts the edge table again, and the fold order
    * of every output row is fixed. Call inside
    * a [[graft.LoopPolicy]] scope. */
  private[graft] def rowSorted(coo: DataFrame, parts: Int): DataFrame =
    coo.select(col("row"), col("col"), col("value"))
      .repartition(parts, col("row")).sortWithinPartitions("row", "col", "value")
      .localCheckpoint(true)

  /** A·X over [[rowSorted]] edges, X `(id, v ARRAY<DOUBLE>)` keyed by the
    * column index, `xRows` rows of `width` lanes (a count the caller has:
    * Catalyst's size estimate for an X that is itself an aggregate over a
    * join is the product of the join's sides, so it is no use here).
    * Output `(id, v)` keyed by the row index, one row per row with a
    * matched edge (inner join: a column missing from X contributes
    * nothing).
    *  - X within [[SpmmBroadcastBytes]] (`spmm.broadcast`): X is the
    *    broadcast side by hint, the edges stream through the join in their
    *    checkpointed order, and each row's partial products fold into one
    *    axpy buffer in edge order: a map-only sort aggregate whose output
    *    keeps the edges' partitioning and order.
    *  - Above it (`spmm.shuffled`): a sort-merge join on the column, then
    *    a hash aggregate on the row with one exchange of partials. The
    *    join is hinted, because Catalyst sizes an array column as one
    *    element and would broadcast a wide X it thinks is small.
    * Call inside a [[graft.LoopPolicy]] scope. */
  private[graft] def spmmA(edges: DataFrame, x: DataFrame, xRows: Long, width: Int): DataFrame = {
    val xs = x.select(col("id").as("col"), col("v").as("x"))
    val small = xRows * width * 8L <= SpmmBroadcastBytes
    graft.Instrument.inc(if (small) "spmm.broadcast" else "spmm.shuffled")
    edges.join(if (small) broadcast(xs) else xs.hint("merge"), Seq("col"))
      .groupBy(col("row").as("id"))
      .agg(graft.functions.VectorAgg.axpySum(col("x"), col("value")).as("v"))
  }

  /** Aᵀ·X over [[rowSorted]] edges, X `(id, v ARRAY<DOUBLE>)` keyed by the
    * row index. Output `(id, v)` keyed by the column index. An [[spmmA]]
    * output made under the same scope is already partitioned and sorted by
    * row like the edges, so the merge-hinted join plans with no exchange
    * and no sort on either side; a partial aggregate on the column (few
    * keys per task) and one small exchange of d-vector partials follow.
    * Call inside a [[graft.LoopPolicy]] scope. */
  private[graft] def spmmAt(edges: DataFrame, x: DataFrame): DataFrame =
    edges.join(x.select(col("id").as("row"), col("v").as("x")).hint("merge"), Seq("row"))
      .groupBy(col("col").as("id"))
      .agg(graft.functions.VectorAgg.axpySum(col("x"), col("value")).as("v"))

  /** Symmetrize A := A + Aᵀ with duplicate-summing —
    * reference: cpp/include/raft/sparse/linalg/symmetrize.cuh.
    * Generator form, not `A union Aᵀ`: each entry explodes into itself and
    * its mirror, so the (possibly expensive) input subtree is evaluated
    * once instead of once per union branch.
    */
  def symmetrize(coo: DataFrame): DataFrame =
    coo.select(explode(array(
        struct(col("row"), col("col"), col("value")),
        struct(col("col").as("row"), col("row").as("col"), col("value"))))
        .as("e"))
      .groupBy(col("e.row").as("row"), col("e.col").as("col"))
      .agg(sum(col("e.value")).as("value"))
}
