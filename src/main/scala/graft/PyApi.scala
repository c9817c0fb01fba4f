package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Python-facing facade (VERDICT r10 item 6 — pylibraft parity: the
  * reference's user surface is python/pylibraft, e.g.
  * pylibraft/sparse/linalg/lanczos.pyx:100 for eigsh). Every method is
  * py4j-friendly: no default arguments, no Option/Seq parameters, only
  * DataFrame/Column/primitive types — the shapes the gateway marshals
  * without Scala-reflection gymnastics. The Python wrappers live in
  * python/graft/; computation stays entirely in this JVM library, so a
  * PySpark user gets the same plans, kernels, and oracles as a Scala one.
  */
object PyApi {

  /** All driver-contract query names, sorted. */
  def queryNames(): Array[String] = SparkEntry.queries.keys.toArray.sorted

  /** Run a named driver-contract query against a testdata sf directory. */
  def runQuery(spark: SparkSession, name: String, sfDir: String): DataFrame =
    SparkEntry.queries(name)(spark, sfDir)

  /** The DuckDB oracle SQL for a named query, or "" when the query has a
    * rows-only check. */
  def oracleSql(name: String): String =
    SparkEntry.oracleSql.getOrElse(name, "")

  /** Smallest-k eigenvalues of a symmetric COO matrix (row, col, value)
    * via the one sharded Lanczos loop (SolverOps.eigshSharded) at its
    * default block width 2 with thick restart; returns (i, eig) rows.
    * pylibraft analog: pylibraft.sparse.linalg.eigsh. */
  def eigsh(coo: DataFrame, n: Long, k: Int, m: Int): DataFrame = {
    val spark = coo.sparkSession
    val (ev, _) = graft.operators.SolverOps.eigshSharded(coo, n, k, m)
    spark.createDataFrame(ev.zipWithIndex.map { case (v, i) => (i, v) })
      .toDF("i", "eig")
  }

  /** [[eigsh]] plus Ritz vectors from the same loop: returns the
    * distributed (i, v) frame of k-coordinate spectral embeddings. */
  def eigshVectors(coo: DataFrame, n: Long, k: Int, m: Int): DataFrame =
    graft.operators.SolverOps.eigshSharded(coo, n, k, m)._2

  /** Top-/bottom-k lanes per row of a dense (id, vec ARRAY<DOUBLE>) frame;
    * returns (id, pos, v, rnk). Reference: matrix/select_k.cuh. */
  def selectK(m: DataFrame, k: Int, largest: Boolean): DataFrame =
    graft.operators.MatrixOps.selectKPerRow(m, k, largest)

  /** Top-k per row of a sparse COO (row, col, value) frame.
    * Reference: sparse select_k. */
  def selectKSparse(coo: DataFrame, k: Int): DataFrame =
    graft.operators.SparseOps.selectKPerRow(coo, k)

  /** TF-IDF weights (doc_id, term, w) over a (doc_id, text) frame. */
  def tfidf(docs: DataFrame): DataFrame =
    graft.operators.TextOps.tfidf(docs)

  /** BM25 weights (doc_id, term, w); reference formulas k1=1.6 b=0.75. */
  def bm25(docs: DataFrame, k1: Double, b: Double): DataFrame =
    graft.operators.TextOps.bm25(docs, k1, b)

  /** MinHash-LSH near-duplicate candidate pairs over (doc_id, text) with
    * verified Jaccard >= threshold; banded equi-join, never all-pairs. */
  def minhashDupPairs(docs: DataFrame, threshold: Double): DataFrame =
    graft.operators.DedupOps.minhashDupPairs(docs, threshold)

  /** Fused dot product over two ARRAY<DOUBLE> columns — the codegen'd
    * ArrayDot Expression (and, over a columnar scan, the batch kernel). */
  def dot(a: Column, b: Column): Column =
    graft.functions.ArrayDot.dot(a, b)

  /** Exact brute-force cosine top-k neighbors for the first nQueries ids;
    * see AnnOps for the IVF/LSH scale paths. Input (id, vec ARRAY<DOUBLE>),
    * output (qid, nid, cos, rnk). */
  def knnCosine(vectors: DataFrame, nQueries: Int, k: Int): DataFrame =
    graft.operators.AnnOps.bruteForceTopK(vectors, nQueries, k)
}
