"""graft — PySpark bindings for the graft analytics engine.

The pylibraft-parity layer (the reference engine's user surface is its
Python package; here the same operators are thin wrappers over the graft
JVM library via the active SparkSession's py4j gateway). Computation stays
entirely in the JVM: a PySpark user gets exactly the plans, fused kernels,
and oracle-checked semantics the Scala API produces.

Usage:
    from graft import graft_session, eigsh, select_k, tfidf, minhash_dup_pairs
    spark = graft_session()              # local session with the extensions
    ev = eigsh(coo_df, n=30, k=3)        # smallest-k Lanczos eigenvalues

Requirements: the compiled graft classes (or jar) on the driver classpath —
graft_session() points at target/scala-2.13/classes by default — and
Spark 4.x pyspark.
"""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.column import Column

__all__ = [
    "graft_session", "query_names", "run_query", "oracle_sql",
    "eigsh", "eigsh_vectors", "select_k", "select_k_sparse",
    "tfidf", "bm25", "minhash_dup_pairs", "dot", "knn_cosine",
]

import os as _os


def _default_classes():
    """Resolve the compiled graft classes/jar: $GRAFT_CLASSPATH wins, else
    walk up from this package looking for a repo checkout's build output.
    No hardcoded absolute container path (ADVICE r11)."""
    env = _os.environ.get("GRAFT_CLASSPATH")
    if env:
        return env
    here = _os.path.dirname(_os.path.abspath(__file__))
    for base in (here, *[_os.path.abspath(_os.path.join(here, *[".."] * i))
                         for i in range(1, 4)]):
        cand = _os.path.join(base, "target", "scala-2.13", "classes")
        if _os.path.isdir(cand):
            return cand
    return None


def graft_session(master="local[4]", classes=None, shuffle_partitions=4):
    """Build a SparkSession wired with the graft extensions (fused-kernel
    optimizer rules, the as-of join strategy, and the columnar batch dot
    kernel). Reuses an existing JVM session if one is already up — note
    extraClassPath has NO effect on an already-running JVM; _api() fails
    fast with a clear message if graft classes are unreachable there."""
    classes = classes or _default_classes()
    if classes is None:
        raise RuntimeError(
            "graft classes not found: set GRAFT_CLASSPATH to the compiled "
            "classes dir (target/scala-2.13/classes) or a graft jar")
    return (SparkSession.builder
            .master(master)
            .appName("graft-python")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
            .config("spark.sql.extensions", "graft.plans.GraftExtensions")
            .config("spark.driver.extraClassPath", classes)
            .getOrCreate())


# keyed by the JVM view instance, not a module-global boolean (ADVICE r12):
# a probe passed against one JVM must not bless a LATER replacement session
# whose JVM lacks graft on its classpath. Holding the object (identity
# check) rather than id() avoids stale-id reuse after the old view is GC'd.
# Bounded (ADVICE r13): dedup on append + a small cap, so a long-lived
# process cycling many sessions neither grows this without bound nor pins
# more than the last few gateways against GC (JVMView is not weakly
# referenceable through py4j proxies, so a WeakSet is not an option).
_api_checked_jvms = []
_API_CHECKED_MAX = 8


def _api(spark):
    api = getattr(spark._jvm, "graft.PyApi")
    if any(v is spark._jvm for v in _api_checked_jvms):
        return api
    # py4j resolves unknown classes lazily to a JavaPackage — probe once so
    # a session started WITHOUT graft on its classpath (getOrCreate reuse:
    # extraClassPath cannot be added to a running JVM) fails with a clear
    # message instead of an opaque 'JavaPackage is not callable' later
    try:
        api.queryNames()
        if not any(v is spark._jvm for v in _api_checked_jvms):
            _api_checked_jvms.append(spark._jvm)
            del _api_checked_jvms[:-_API_CHECKED_MAX]
    except TypeError:
        raise RuntimeError(
            "graft.PyApi is not on this JVM's classpath. The SparkSession "
            "was started before graft_session() could set "
            "spark.driver.extraClassPath (getOrCreate reuses the running "
            "JVM). Restart Python/Spark and call graft_session() first, or "
            "launch with --driver-class-path <graft classes/jar>.") from None
    return api


def _wrap(spark, jdf):
    return DataFrame(jdf, spark)


def query_names(spark):
    """All driver-contract query names (the full operator surface)."""
    return sorted(_api(spark).queryNames())


def run_query(spark, name, sf_dir):
    """Run a named driver-contract query against a testdata sf directory."""
    return _wrap(spark, _api(spark).runQuery(spark._jsparkSession, name, sf_dir))


def oracle_sql(spark, name):
    """The DuckDB oracle SQL for a named query ('' for rows-only checks)."""
    return _api(spark).oracleSql(name)


def eigsh(coo, n, k, m=25):
    """Smallest-k eigenvalues of a symmetric COO (row, col, value) frame via
    the one sharded Lanczos loop (SolverOps.eigshSharded) at its default
    block width 2 with thick restart. Returns an (i, eig) DataFrame.
    pylibraft analog: pylibraft.sparse.linalg.eigsh."""
    spark = coo.sparkSession
    return _wrap(spark, _api(spark).eigsh(coo._jdf, int(n), int(k), int(m)))


def eigsh_vectors(coo, n, k, m=25):
    """eigsh plus Ritz vectors from the same loop (block width 2): a
    distributed (i, v) frame of k-coordinate spectral embeddings, planned
    inside the loop and computed when first consumed."""
    spark = coo.sparkSession
    return _wrap(spark, _api(spark).eigshVectors(coo._jdf, int(n), int(k), int(m)))


def select_k(m, k, largest=True):
    """Top-/bottom-k lanes per row of a dense (id, vec ARRAY<DOUBLE>) frame;
    returns (id, pos, v, rnk)."""
    spark = m.sparkSession
    return _wrap(spark, _api(spark).selectK(m._jdf, int(k), bool(largest)))


def select_k_sparse(coo, k):
    """Top-k per row of a sparse COO (row, col, value) frame."""
    spark = coo.sparkSession
    return _wrap(spark, _api(spark).selectKSparse(coo._jdf, int(k)))


def tfidf(docs):
    """TF-IDF weights (doc_id, term, w) over a (doc_id, text) frame."""
    spark = docs.sparkSession
    return _wrap(spark, _api(spark).tfidf(docs._jdf))


def bm25(docs, k1=1.6, b=0.75):
    """BM25 weights (doc_id, term, w); reference formulas k1=1.6, b=0.75."""
    spark = docs.sparkSession
    return _wrap(spark, _api(spark).bm25(docs._jdf, float(k1), float(b)))


def minhash_dup_pairs(docs, threshold=0.5):
    """MinHash-LSH near-duplicate candidate pairs over (doc_id, text) with
    verified Jaccard >= threshold; banded equi-join, never all-pairs."""
    spark = docs.sparkSession
    return _wrap(spark, _api(spark).minhashDupPairs(docs._jdf, float(threshold)))


def dot(a, b):
    """Fused dot product Column over two ARRAY<DOUBLE> columns — the
    codegen'd ArrayDot Expression (the batch kernel over columnar scans)."""
    spark = SparkSession.getActiveSession()
    return Column(_api(spark).dot(a._jc, b._jc))


def knn_cosine(vectors, n_queries, k):
    """Exact brute-force cosine top-k for the first n_queries ids; returns
    (qid, nid, cos, rnk). See AnnOps (via run_query) for IVF/LSH paths."""
    spark = vectors.sparkSession
    return _wrap(spark, _api(spark).knnCosine(vectors._jdf, int(n_queries), int(k)))
