package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{SparseOps, TextOps}

/** Sparse COO + text/IR queries (SURVEY.md §2.4, §2.5, §2.10).
  * The COO fixture is lineitem re-encoded as (row=l_orderkey,
  * col=l_partkey, value=sum(l_quantity)); oracles rebuild it as a CTE.
  */
object SparseTextQueries extends QueryGroup {

  private val cooCte =
    """WITH coo AS (
      |  SELECT l_orderkey AS row, l_partkey AS col, sum(l_quantity) AS value
      |  FROM lineitem GROUP BY 1, 2)""".stripMargin

  /** Strict left-fold dot product (same lane order as Spark's `aggregate`
    * fold in ArrayMath.dot — list_sum's pairwise order can differ by an ulp
    * and flip a round-at-4 tie). */
  private def foldDot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip($a, $b), p -> p[1] * p[2])), (s, x) -> s + x)"

  private val tokCte =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                             t -> t <> '') AS tokens
      |  FROM documents),
      |td AS (
      |  SELECT doc_id, t.term, CAST(count(*) AS DOUBLE) AS tf
      |  FROM toks, unnest(toks.tokens) AS t(term)
      |  GROUP BY doc_id, t.term)""".stripMargin

  // one oracle for BOTH the exact and the prefix-filtered all-pairs
  // cosine queries: prefix filtering (Bayardo et al. WWW'07) is lossless,
  // so the two must hash identically against this full self-join
  // CTE chain shared by the all-pairs cosine family: tokenize the bounded
  // corpus, TF-IDF weights (reference formula, rounded like txt_tfidf),
  // drop zeros, L2-normalize, then the exact pair sums at tau=0.8
  private val allPairsCtes =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                             t -> t <> '') AS tokens
      |  FROM documents WHERE doc_id < 600),
      |td AS (
      |  SELECT doc_id, t.term, CAST(count(*) AS DOUBLE) AS tf
      |  FROM toks, unnest(toks.tokens) AS t(term)
      |  GROUP BY doc_id, t.term),
      |df AS (SELECT term, count(*) AS df FROM td GROUP BY term),
      |n AS (SELECT count(DISTINCT doc_id) AS n FROM td),
      |w AS (SELECT td.doc_id, td.term,
      |        round(ln(td.tf) * ln(CAST(n.n AS DOUBLE)/df.df + 1.0), 6) AS w
      |      FROM td, df, n WHERE td.term = df.term),
      |wz AS (SELECT * FROM w WHERE w <> 0),
      |nrm AS (SELECT doc_id, sqrt(sum(w*w)) AS nrm FROM wz GROUP BY doc_id),
      |u AS (SELECT wz.doc_id, wz.term, wz.w/nrm.nrm AS u
      |      FROM wz JOIN nrm USING (doc_id)),
      |sims AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |                round(sum(a.u*b.u), 4) AS sim
      |         FROM u a JOIN u b ON a.term = b.term AND a.doc_id < b.doc_id
      |         GROUP BY 1, 2 HAVING sum(a.u*b.u) >= 0.8)""".stripMargin

  private val allPairsCosineSql =
    s"""$allPairsCtes
       |SELECT doc_a, doc_b, sim FROM sims""".stripMargin

  private val cosineTopKSql =
    s"""$allPairsCtes,
       |sym AS (SELECT doc_a AS doc_id, doc_b AS nbr, sim FROM sims
       |        UNION ALL
       |        SELECT doc_b AS doc_id, doc_a AS nbr, sim FROM sims)
       |SELECT doc_id, nbr, sim,
       |       CAST(row_number() OVER (PARTITION BY doc_id
       |                               ORDER BY sim DESC, nbr) AS INT) AS rnk
       |FROM sym
       |QUALIFY row_number() OVER (PARTITION BY doc_id
       |                           ORDER BY sim DESC, nbr) <= 3""".stripMargin

  val q: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sp_degree" -> ((s, d) => {
      SparseOps.degree(Tables.cooOrdersParts(s, d))
        .select(col("row"), col("deg"), round(col("vsum"), 2).as("vsum"))
    }),
    "sp_transpose_degree" -> ((s, d) => {
      SparseOps.degree(SparseOps.transpose(Tables.cooOrdersParts(s, d)))
        .select(col("row"), col("deg"), round(col("vsum"), 2).as("vsum"))
    }),
    "sp_spmv" -> ((s, d) => SparseOps.spmvFixedWeights(Tables.cooOrdersParts(s, d))),
    "sp_spgemm_ata" -> ((s, d) => SparseOps.spgemmAtA(Tables.cooOrdersParts(s, d))),
    "sp_select_k" -> ((s, d) => {
      SparseOps.selectKPerRow(Tables.cooOrdersParts(s, d), 2)
        .select(col("row"), col("col"), round(col("value"), 2).as("value"), col("rnk"))
    }),
    "sp_remove_below" -> ((s, d) => {
      SparseOps.removeBelow(Tables.cooOrdersParts(s, d), 45.0)
        .select(col("row"), col("col"), round(col("value"), 2).as("value"))
    }),
    "sp_row_slice" -> ((s, d) => {
      SparseOps.rowSlice(Tables.cooOrdersParts(s, d), 100L, 300L)
        .select(col("row"), col("col"), round(col("value"), 2).as("value"))
    }),
    // csr_row_op (reference sparse/op/row_op.cuh:29): position-dependent
    // per-row-slice functor — prefix sum in column order; the oracle is
    // the equivalent running-sum window
    "sp_row_op" -> ((s, d) => {
      SparseOps.rowPrefixSum(Tables.cooOrdersParts(s, d))
        .select(col("row"), col("col"), round(col("value"), 2).as("value"))
    }),
    "sp_laplacian" -> ((s, d) => {
      // co-occurrence graph on parts: edge (c1,c2) with weight = #orders
      // containing both; symmetrized; Laplacian rows for col-keys < 200.
      // r14 (guide §2.3, project before the exchange): the row<200 output
      // filter is PUSHED INTO the pair generation — a pair with both
      // endpoints ≥ 200 can contribute nothing to any output row (off-
      // diagonals need an endpoint < 200; the diagonal of row i < 200 sums
      // exactly the edges incident to i, all of which have that endpoint),
      // so the co-occurrence aggregate consumes ~2·200/|parts| of the
      // quadratic pair set instead of all of it. Identical output, same
      // oracle.
      val coo = Tables.cooOrdersParts(s, d)
      val a = coo.select(col("row"), col("col").as("c1"))
      val b = coo.select(col("row"), col("col").as("c2"))
      val edges = a.join(b, Seq("row"))
        .where(col("c1") < col("c2") && (col("c1") < 200 || col("c2") < 200))
        .groupBy(col("c1"), col("c2")).agg(count(lit(1)).cast("double").as("value"))
        .select(col("c1").as("row"), col("c2").as("col"), col("value"))
      SparseOps.laplacian(SparseOps.symmetrize(edges)).where(col("row") < 200)
        .select(col("row"), col("col"), round(col("value"), 2).as("value"))
    }),
    // symmetric-normalized Laplacian of the same co-occurrence graph:
    // L̂(i,j) = L(i,j)/√(dᵢdⱼ), the spectral-clustering form.
    // r14 (guide §2.3/§2.4): same endpoint<200 pushdown as sp_laplacian
    // for the L entries — but L̂ also needs the FULL weighted degree of
    // every neighbor j (including j ≥ 200, whose incident ≥200-≥200 pairs
    // the pruned join never materializes). That degree has a LINEAR form:
    // d_j = Σ_j w(i,j) with w = #shared orders collapses to
    // d_j = Σ_{orders o ∋ j} (|o| − 1) — one size aggregate + one join
    // instead of a second pass over the quadratic pair set. Both sums are
    // exact integer folds, so the normalized values match the operator
    // path bit-for-bit; same oracle.
    "sp_laplacian_norm" -> ((s, d) => {
      val coo = Tables.cooOrdersParts(s, d)
      val a = coo.select(col("row"), col("col").as("c1"))
      val b = coo.select(col("row"), col("col").as("c2"))
      val edges = a.join(b, Seq("row"))
        .where(col("c1") < col("c2") && (col("c1") < 200 || col("c2") < 200))
        .groupBy(col("c1"), col("c2")).agg(count(lit(1)).cast("double").as("value"))
        .select(col("c1").as("row"), col("c2").as("col"), col("value"))
      val osize = coo.groupBy(col("row")).agg(count(lit(1)).as("sz"))
      val degFull = coo.join(osize, Seq("row"))
        .groupBy(col("col").as("i"))
        .agg(sum(col("sz") - 1).cast("double").as("d"))
      val lap = SparseOps.laplacian(SparseOps.symmetrize(edges))
        .where(col("row") < 200)
      lap.join(degFull.select(col("i").as("row"), col("d").as("dr")), Seq("row"))
        .join(degFull.select(col("i").as("col"), col("d").as("dc")), Seq("col"))
        .select(col("row"), col("col"),
          when(col("dr") > 0.0 && col("dc") > 0.0,
            col("value") / sqrt(col("dr") * col("dc")))
            .otherwise(col("value")).as("value"))
        .select(col("row"), col("col"), (round(col("value"), 6) + 0.0).as("value"))
    }),
    // csr_row_normalize_max: divide each row by its max |value| (the L∞
    // cousin of the L2 form above)
    "sp_row_normalize_max" -> ((s, d) => {
      SparseOps.rowNormalize(
          Tables.cooOrdersParts(s, d).where(col("row") < 1000), "linf")
        .select(col("row"), col("col"), (round(col("value"), 6) + 0.0).as("value"))
    }),
    "sp_max_dup" -> ((s, d) => {
      // plant duplicates: the COO unioned with a half-valued copy;
      // max_duplicates must recover exactly the original entries
      val coo = Tables.cooOrdersParts(s, d)
      val withDups = coo.unionByName(
        coo.select(col("row"), col("col"), (col("value") * 0.5).as("value")))
      SparseOps.maxDuplicates(withDups).where(col("row") < 500)
        .select(col("row"), col("col"), round(col("value"), 2).as("value"))
    }),
    "sp_spgemm_ab" -> ((s, d) => {
      // A: order×part (qty); B: part×supp (line count); C = A·B, orders < 2000
      val li = Tables.lineitem(s, d)
      val a = Tables.cooOrdersParts(s, d)
      val b = li.groupBy(col("l_partkey").as("row"), col("l_suppkey").as("col"))
        .agg(count(lit(1)).cast("double").as("value"))
      SparseOps.spgemm(a, b).where(col("row") < 2000)
        .select(col("row"), col("col"), round(col("value"), 2).as("value"))
    }),
    "sp_masked_matmul" -> ((s, d) => {
      // mask {(i,j): (7i+13j) ≡ 0 mod 11} generated directly as per-i
      // stride-11 progressions — no n×n enumeration, no CartesianProduct
      SparseOps.maskedMatmul(Tables.vectors(s, d).where(col("id") < 500),
        SparseOps.modularMaskPattern(s, 500L, 7, 13, 11))
    }),
    "sp_spmm" -> ((s, d) => {
      // C = A·B with B a *materialized* dense table keyed by A's col
      // (deterministic lanes so the oracle can rebuild it)
      val coo = Tables.cooOrdersParts(s, d)
      val b = coo.select(col("col")).distinct()
        .select(col("col").as("id"),
          transform(sequence(lit(0), lit(7)), j =>
            pmod(col("col") * 53 + j * 29, lit(101)).cast("double") / 101.0).as("vec"))
      SparseOps.spmm(coo, b)
        .select(col("row"), col("pos"), (round(col("v"), 4) + 0.0).as("v"))
    }),
    "sp_sddmm" -> ((s, d) => {
      val pattern = s.range(0, 500).select(col("id").as("i"))
        .crossJoin(s.range(0, 500).select(col("id").as("j")))
        .where(col("i") < col("j") && pmod(col("i") * 31 + col("j"), lit(97)) === 0)
      SparseOps.sddmm(pattern, Tables.vectors(s, d))
    }),
    "sp_add" -> ((s, d) => {
      // A + row-shifted A: overlapping and disjoint patterns both exercised
      val a = Tables.cooOrdersParts(s, d).where(col("row") < 400)
      val b = a.select((col("row") + 1).as("row"), col("col"),
        (col("value") * 0.5).as("value"))
      SparseOps.add(a, b)
        .select(col("row"), col("col"), round(col("value"), 2).as("value"))
    }),
    "sp_row_norms" -> ((s, d) => {
      SparseOps.rowNorms(Tables.cooOrdersParts(s, d))
        .select(col("row"), col("l0"), round(col("l1"), 2).as("l1"),
          round(col("l2"), 4).as("l2"), round(col("linf"), 2).as("linf"))
    }),
    "sp_row_normalize" -> ((s, d) => {
      SparseOps.rowNormalize(Tables.cooOrdersParts(s, d).where(col("row") < 1000))
        .select(col("row"), col("col"), (round(col("value"), 6) + 0.0).as("value"))
    }),
    "sp_dense_roundtrip" -> ((s, d) => {
      // dense → COO → dense must reproduce the original rows exactly
      val v = Tables.vectors(s, d).where(col("id") < 30).select(col("id"), col("vec"))
      SparseOps.cooToDense(SparseOps.denseToCoo(v), 64)
        .select(col("id"), posexplode(col("vec")).as(Seq("pos", "v")))
        .select(col("id"), col("pos"), (round(col("v"), 4) + 0.0).as("v"))
    }),
    "sp_triangular" -> ((s, d) => {
      SparseOps.triangular(Tables.cooOrdersParts(s, d).where(col("row") < 300))
        .select(col("row"), col("col"), round(col("value"), 2).as("value"))
    }),
    // The three diagonal ops run over a symmetrized COO slice (A + Aᵀ with
    // duplicate-summing — one cheap keyed aggregate). Round 3 fed them the
    // part co-occurrence graph, which re-paid its O(nnz²/rows) self-join
    // THREE times because the harness clearCache()s between queries (9 s of
    // the bench); the diagonal ops themselves are input-agnostic, and the
    // co-occurrence graph stays exercised by solver_partition/modularity
    // and sp_laplacian.
    "sp_diag_invert" -> ((s, d) => {
      val a = SparseOps.symmetrize(Tables.cooOrdersParts(s, d).where(col("row") < 2000))
      SparseOps.invertDiagonal(SparseOps.laplacian(a)).where(col("row") < 500)
        .select(col("row"), round(col("dval"), 2).as("dval"),
          round(col("inv_dval"), 6).as("inv_dval"))
    }),
    "sp_set_diagonal" -> ((s, d) => {
      val a = SparseOps.symmetrize(Tables.cooOrdersParts(s, d).where(col("row") < 2000))
      SparseOps.setDiagonal(SparseOps.laplacian(a), 7.0).where(col("row") < 300)
        .select(col("row"), col("col"), round(col("value"), 2).as("value"))
    }),
    "sp_scale_diag_sym" -> ((s, d) => {
      val a = SparseOps.symmetrize(Tables.cooOrdersParts(s, d).where(col("row") < 2000))
      val deg = a.groupBy(col("row")).agg(sum(col("value")).as("dval"))
      SparseOps.scaleByDiagonalSymmetric(a, deg).where(col("row") < 500)
        .select(col("row"), col("col"), round(col("value"), 6).as("value"))
    }),
    "txt_term_doc" -> ((s, d) => {
      TextOps.termDoc(Tables.documents(s, d)).where(col("doc_id") < 300)
    }),
    "txt_tfidf" -> ((s, d) => {
      TextOps.tfidf(Tables.documents(s, d)).where(col("doc_id") < 300)
    }),
    "txt_bm25" -> ((s, d) => {
      TextOps.bm25(Tables.documents(s, d)).where(col("doc_id") < 300)
    }),
    // hashing-trick featurization: signed integer count-sketch lanes —
    // the vocabulary-free constant-width embedder, bit-exact (all
    // integer arithmetic)
    "txt_feature_hashing" -> ((s, d) =>
      TextOps.featureHashing(Tables.documents(s, d))
        .where(col("doc_id") < 300)),
    "txt_bm25_score" -> ((s, d) =>
      TextOps.bm25Score(Tables.documents(s, d), Seq("spark", "join", "merge"))),
    // sparse all-pairs cosine ≥ 0.8 over TF-IDF unit vectors: the
    // dispatched join (brute at this size) and the same join pinned to
    // the prefix-filtered (Bayardo et al. WWW'07) scale path — SAME
    // oracle, because prefix filtering is lossless.
    // Bounded to 600 docs like the rest of the txt family: this fixture
    // is template soup (31 effective terms at sf0.1, ~10M truly-similar
    // pairs), so the full-corpus output itself is quadratic — the
    // operators carry the scale design (prefix pruning + hot-term
    // salting), the query carries the oracle.
    "txt_allpairs_cosine" -> ((s, d) =>
      TextOps.cosineJoin(
        Tables.documents(s, d).where(col("doc_id") < 600), 0.8)),
    "txt_allpairs_prefix" -> ((s, d) =>
      TextOps.cosineJoin(
        Tables.documents(s, d).where(col("doc_id") < 600), 0.8,
        path = TextOps.CosinePath.Prefix)),
    // per-doc top-3 cosine neighbors — text-side similarity search on the
    // same pair table; ranking on the ROUNDED sim keeps it engine-portable
    "txt_cosine_topk" -> ((s, d) =>
      TextOps.cosineTopK(
        Tables.documents(s, d).where(col("doc_id") < 600), 0.8, 3)),
    // TF-IDF-cosine decontamination over the FULL corpus (no doc bound:
    // the broadcast eval side keeps it linear in the train side)
    "pipe_contamination_cosine" -> ((s, d) =>
      TextOps.cosineJoin(
        Tables.documents(s, d), 0.8, Some(col("source") === "src1"))),
    "txt_quality" -> ((s, d) => {
      TextOps.quality(Tables.documents(s, d)).where(col("doc_id") < 1000)
    }),
    "txt_fingerprint" -> ((s, d) => TextOps.fingerprint(Tables.documents(s, d))),
    "txt_token_count" -> ((s, d) => TextOps.tokenCounts(Tables.documents(s, d))),
    "txt_langid" -> ((s, d) => TextOps.langId(Tables.documents(s, d))),
    "txt_heavy_hitters" -> ((s, d) =>
      TextOps.heavyHittersCms(Tables.documents(s, d))),
    // PMI collocations of adjacent token pairs, min bigram count 25;
    // counts stay integers, one ln at the end
    "txt_pmi" -> ((s, d) =>
      TextOps.pmiCollocations(Tables.documents(s, d), 25L)),
    // word-soup corpus has no organic PII, so the query plants
    // deterministic emails/IPs/phones on a doc_id schedule (same CASE on
    // both engines) — the redaction then does real work and the hash
    // proves the Java-regex and RE2 pattern semantics agree
    "txt_pii_redact" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val planted = when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"), lit(" contact u"), col("doc_id").cast("string"),
            lit("@example.com now")))
        .when(pmod(col("doc_id"), lit(5)) === 0,
          concat(col("text"), lit(" from 10.0."),
            pmod(col("doc_id"), lit(256)).cast("string"), lit(".17 logged")))
        .when(pmod(col("doc_id"), lit(3)) === 0,
          concat(col("text"), lit(" call +1 555 0"),
            (pmod(col("doc_id"), lit(90)) + 10).cast("string"), lit(" end")))
        .otherwise(col("text"))
      TextOps.piiRedact(docs.select(col("doc_id"), planted.as("text")))
    }),
  )

  /** Symmetrized COO slice A + Aᵀ (duplicate-summing) + its Laplacian —
    * mirrors SparseOps.symmetrize/laplacian on the sp-diag trio's input. */
  private val symCte =
    s"""$cooCte,
       |f AS (SELECT row, col, value FROM coo WHERE row < 2000),
       |sym AS (
       |  SELECT row, col, sum(value) AS value FROM (
       |    SELECT row, col, value FROM f
       |    UNION ALL SELECT col AS row, row AS col, value FROM f)
       |  GROUP BY 1, 2),
       |lap AS (
       |  SELECT row, col, sum(value) AS value FROM (
       |    SELECT row, row AS col, sum(value) AS value FROM sym GROUP BY row
       |    UNION ALL SELECT row, col, -value FROM sym)
       |  GROUP BY 1, 2)""".stripMargin

  val sql: Map[String, String] = Map(
    "sp_add" ->
      s"""$cooCte,
         |a AS (SELECT row, col, value FROM coo WHERE row < 400),
         |b AS (SELECT row + 1 AS row, col, value * 0.5 AS value FROM a),
         |u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
         |SELECT row, col, round(sum(value), 2) AS value FROM u GROUP BY 1, 2""".stripMargin,
    "sp_row_norms" ->
      s"""$cooCte
         |SELECT row, count(*) AS l0, round(sum(abs(value)), 2) AS l1,
         |  round(sqrt(sum(value * value)), 4) AS l2,
         |  round(max(abs(value)), 2) AS linf
         |FROM coo GROUP BY row""".stripMargin,
    "sp_row_normalize" ->
      s"""$cooCte
         |SELECT row, col,
         |  round(value / sqrt(sum(value * value) OVER (PARTITION BY row)), 6)
         |    + 0.0 AS value
         |FROM coo WHERE row < 1000""".stripMargin,
    "sp_dense_roundtrip" ->
      """SELECT vec_id AS id, generate_subscripts(embedding, 1) - 1 AS pos,
        |  round(CAST(unnest(embedding) AS DOUBLE), 4) + 0.0 AS v
        |FROM embeddings WHERE vec_id < 30""".stripMargin,
    "sp_triangular" ->
      s"""$cooCte
         |SELECT row, col, round(value, 2) AS value FROM coo
         |WHERE row < 300 AND col >= row""".stripMargin,
    "sp_diag_invert" ->
      s"""$symCte
         |SELECT row, round(value, 2) AS dval,
         |  round(CASE WHEN value <> 0 THEN 1.0 / value ELSE 0.0 END, 6) AS inv_dval
         |FROM lap WHERE row = col AND row < 500""".stripMargin,
    "sp_set_diagonal" ->
      s"""$symCte
         |SELECT row, col,
         |  round(CASE WHEN row = col THEN 7.0 ELSE value END, 2) AS value
         |FROM lap WHERE row < 300""".stripMargin,
    "sp_scale_diag_sym" ->
      s"""$symCte,
         |deg AS (SELECT row, sum(value) AS d FROM sym GROUP BY row)
         |SELECT sym.row, sym.col,
         |  round(sym.value / sqrt(dr.d * dc.d), 6) AS value
         |FROM sym JOIN deg dr ON sym.row = dr.row JOIN deg dc ON sym.col = dc.row
         |WHERE sym.row < 500""".stripMargin,
    "sp_degree" ->
      s"""$cooCte
         |SELECT row, count(*) AS deg, round(sum(value), 2) AS vsum
         |FROM coo GROUP BY row""".stripMargin,
    "sp_transpose_degree" ->
      s"""$cooCte
         |SELECT col AS row, count(*) AS deg, round(sum(value), 2) AS vsum
         |FROM coo GROUP BY col""".stripMargin,
    "sp_spmv" ->
      s"""$cooCte
         |SELECT row, round(sum(value * ((col*53)%101)/101.0), 4) AS y
         |FROM coo GROUP BY row""".stripMargin,
    "sp_spgemm_ata" ->
      s"""$cooCte
         |SELECT a.col AS c1, b.col AS c2, round(sum(a.value*b.value), 2) AS dp,
         |       count(*) AS nnz
         |FROM coo a JOIN coo b ON a.row = b.row AND a.col <= b.col
         |GROUP BY 1, 2""".stripMargin,
    "sp_select_k" ->
      s"""$cooCte
         |SELECT row, col, round(value, 2) AS value, rnk FROM (
         |  SELECT row, col, value,
         |         row_number() OVER (PARTITION BY row ORDER BY value DESC, col) AS rnk
         |  FROM coo)
         |WHERE rnk <= 2""".stripMargin,
    "sp_remove_below" ->
      s"""$cooCte
         |SELECT row, col, round(value, 2) AS value FROM coo WHERE value >= 45.0""".stripMargin,
    "sp_row_slice" ->
      s"""$cooCte
         |SELECT row, col, round(value, 2) AS value FROM coo
         |WHERE row >= 100 AND row < 300""".stripMargin,
    "sp_row_op" ->
      s"""$cooCte
         |SELECT row, col,
         |  round(sum(value) OVER (PARTITION BY row ORDER BY col), 2) AS value
         |FROM coo""".stripMargin,
    "sp_laplacian" ->
      s"""$cooCte,
         |edges AS (
         |  SELECT a.col AS row, b.col AS col, CAST(count(*) AS DOUBLE) AS value
         |  FROM coo a JOIN coo b ON a.row = b.row AND a.col < b.col
         |  GROUP BY 1, 2),
         |sym AS (
         |  SELECT row, col, sum(value) AS value FROM (
         |    SELECT row, col, value FROM edges
         |    UNION ALL SELECT col AS row, row AS col, value FROM edges)
         |  GROUP BY 1, 2),
         |lap AS (
         |  SELECT row, row AS col, sum(value) AS value FROM sym GROUP BY row
         |  UNION ALL SELECT row, col, -value FROM sym)
         |SELECT row, col, round(value, 2) AS value FROM lap WHERE row < 200""".stripMargin,
    "sp_laplacian_norm" ->
      s"""$cooCte,
         |edges AS (
         |  SELECT a.col AS row, b.col AS col, CAST(count(*) AS DOUBLE) AS value
         |  FROM coo a JOIN coo b ON a.row = b.row AND a.col < b.col
         |  GROUP BY 1, 2),
         |sym AS (
         |  SELECT row, col, sum(value) AS value FROM (
         |    SELECT row, col, value FROM edges
         |    UNION ALL SELECT col AS row, row AS col, value FROM edges)
         |  GROUP BY 1, 2),
         |deg AS (SELECT row AS i, sum(value) AS d FROM sym GROUP BY 1),
         |lap AS (
         |  SELECT row, row AS col, sum(value) AS value FROM sym GROUP BY row
         |  UNION ALL SELECT row, col, -value FROM sym)
         |SELECT lap.row, lap.col,
         |  round(CASE WHEN dr.d > 0 AND dc.d > 0
         |    THEN lap.value / sqrt(dr.d * dc.d) ELSE lap.value END, 6)
         |    + 0.0 AS value
         |FROM lap JOIN deg dr ON dr.i = lap.row JOIN deg dc ON dc.i = lap.col
         |WHERE lap.row < 200""".stripMargin,
    "sp_row_normalize_max" ->
      s"""$cooCte
         |SELECT row, col,
         |  round(value / max(abs(value)) OVER (PARTITION BY row), 6)
         |    + 0.0 AS value
         |FROM coo WHERE row < 1000""".stripMargin,
    "sp_max_dup" ->
      s"""$cooCte
         |SELECT row, col, round(value, 2) AS value FROM coo WHERE row < 500""".stripMargin,
    "sp_spgemm_ab" ->
      s"""$cooCte,
         |b AS (SELECT l_partkey AS k, l_suppkey AS col, CAST(count(*) AS DOUBLE) AS vb
         |      FROM lineitem GROUP BY 1, 2)
         |SELECT coo.row, b.col, round(sum(coo.value * b.vb), 2) AS value
         |FROM coo JOIN b ON coo.col = b.k
         |WHERE coo.row < 2000 GROUP BY 1, 2""".stripMargin,
    "sp_masked_matmul" ->
      s"""SELECT a.vec_id AS i, b.vec_id AS j,
         |  round(${foldDot("list_transform(a.embedding, f -> CAST(f AS DOUBLE))",
              "list_transform(b.embedding, f -> CAST(f AS DOUBLE))")}, 4) + 0.0 AS dp
         |FROM embeddings a JOIN embeddings b
         |  ON a.vec_id < b.vec_id AND a.vec_id < 500 AND b.vec_id < 500
         |  AND (a.vec_id*7 + b.vec_id*13) % 11 = 0""".stripMargin,
    "sp_spmm" ->
      s"""$cooCte
         |SELECT row, j AS pos,
         |  round(sum(value * (((col*53 + j*29) % 101) / 101.0)), 4) + 0.0 AS v
         |FROM coo, range(8) t(j) GROUP BY row, j""".stripMargin,
    "sp_sddmm" ->
      s"""SELECT a.vec_id AS i, b.vec_id AS j,
         |  round(${foldDot("list_transform(a.embedding, f -> CAST(f AS DOUBLE))",
              "list_transform(b.embedding, f -> CAST(f AS DOUBLE))")}, 4) + 0.0 AS dp
         |FROM embeddings a JOIN embeddings b
         |  ON a.vec_id < b.vec_id AND a.vec_id < 500 AND b.vec_id < 500
         |  AND (a.vec_id*31 + b.vec_id) % 97 = 0""".stripMargin,
    "txt_term_doc" ->
      s"""$tokCte
         |SELECT doc_id, term, tf FROM td WHERE doc_id < 300""".stripMargin,
    "txt_tfidf" ->
      s"""$tokCte,
         |df AS (SELECT term, count(*) AS df FROM td GROUP BY term),
         |n AS (SELECT count(DISTINCT doc_id) AS n FROM td)
         |SELECT td.doc_id, td.term,
         |       round(ln(td.tf) * ln(CAST(n.n AS DOUBLE)/df.df + 1.0), 6) AS w
         |FROM td, df, n WHERE td.term = df.term AND td.doc_id < 300""".stripMargin,
    "txt_allpairs_cosine" -> allPairsCosineSql,
    "txt_allpairs_prefix" -> allPairsCosineSql,
    "txt_cosine_topk" -> cosineTopKSql,
    "pipe_contamination_cosine" ->
      s"""$tokCte,
         |df AS (SELECT term, count(*) AS df FROM td GROUP BY term),
         |n AS (SELECT count(DISTINCT doc_id) AS n FROM td),
         |w AS (SELECT td.doc_id, td.term,
         |        round(ln(td.tf) * ln(CAST(n.n AS DOUBLE)/df.df + 1.0), 6) AS w
         |      FROM td, df, n WHERE td.term = df.term),
         |wz AS (SELECT * FROM w WHERE w <> 0),
         |nrm AS (SELECT doc_id, sqrt(sum(w*w)) AS nrm FROM wz GROUP BY doc_id),
         |u AS (SELECT wz.doc_id, wz.term, wz.w/nrm.nrm AS u
         |      FROM wz JOIN nrm USING (doc_id)),
         |ue AS (SELECT u.* FROM u JOIN documents d ON d.doc_id = u.doc_id
         |       WHERE d.source = 'src1'),
         |ut AS (SELECT u.* FROM u JOIN documents d ON d.doc_id = u.doc_id
         |       WHERE d.source <> 'src1')
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       round(sum(a.u*b.u), 4) AS sim
         |FROM ue a JOIN ut b ON a.term = b.term
         |GROUP BY 1, 2 HAVING sum(a.u*b.u) >= 0.8""".stripMargin,
    "txt_feature_hashing" ->
      s"""$tokCte
         |SELECT doc_id, k,
         |  CAST(sum(CAST(tf AS BIGINT) *
         |    ((CAST(('0x' || substr(md5(concat_ws(':', term, k, 'fh')), 1, 8)) AS BIGINT) % 2) * 2 - 1))
         |    AS BIGINT) AS v
         |FROM td, range(8) r(k)
         |WHERE doc_id < 300
         |GROUP BY 1, 2""".stripMargin,
    "txt_bm25" ->
      s"""$tokCte,
         |df AS (SELECT term, count(*) AS df FROM td GROUP BY term),
         |dl AS (SELECT doc_id, sum(tf) AS len FROM td GROUP BY doc_id),
         |tot AS (SELECT sum(tf) AS total_len, count(DISTINCT doc_id) AS n FROM td)
         |SELECT td.doc_id, td.term,
         |  round(ln(CAST(tot.n AS DOUBLE)/df.df + 1.0) *
         |        ((1.6 + 1.0) * ln(td.tf)) /
         |        (1.6 * ((1.0 - 0.75) + 0.75 * (dl.len / (tot.total_len / tot.n))) + ln(td.tf)),
         |        6) AS w
         |FROM td, df, dl, tot
         |WHERE td.term = df.term AND td.doc_id = dl.doc_id AND td.doc_id < 300""".stripMargin,
    "txt_bm25_score" ->
      s"""$tokCte,
         |df AS (SELECT term, count(*) AS df FROM td GROUP BY term),
         |dl AS (SELECT doc_id, sum(tf) AS len FROM td GROUP BY doc_id),
         |tot AS (SELECT sum(tf) AS total_len, count(DISTINCT doc_id) AS n FROM td),
         |w AS (
         |  SELECT td.doc_id, td.term,
         |    round(ln(CAST(tot.n AS DOUBLE)/df.df + 1.0) *
         |          ((1.6 + 1.0) * ln(td.tf)) /
         |          (1.6 * ((1.0 - 0.75) + 0.75 * (dl.len / (tot.total_len / tot.n))) + ln(td.tf)),
         |          6) AS w
         |  FROM td, df, dl, tot
         |  WHERE td.term = df.term AND td.doc_id = dl.doc_id
         |    AND td.term IN ('spark', 'join', 'merge'))
         |SELECT doc_id, round(sum(w), 6) AS score, count(*) AS n_hit_terms
         |FROM w GROUP BY doc_id""".stripMargin,
    "txt_quality" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                             t -> t <> '') AS tokens
        |  FROM documents WHERE doc_id < 1000)
        |SELECT doc_id,
        |  len(tokens) AS n_tokens,
        |  round(CAST(list_sum(list_transform(tokens, t -> length(t))) AS DOUBLE)
        |        / len(tokens), 4) AS mean_tok_len,
        |  round(CAST(len(list_filter(tokens,
        |    t -> t IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
        |        / len(tokens), 4) AS stopword_ratio,
        |  round(CAST(len(list_distinct(tokens)) AS DOUBLE) / len(tokens), 4)
        |    AS distinct_ratio
        |FROM toks""".stripMargin,
    "txt_fingerprint" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                             t -> t <> '') AS tokens
        |  FROM documents)
        |SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(7 AS BIGINT),
        |      list_transform(tokens,
        |        t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT))),
        |    (a, c) -> (a * 131 + c) % 1000000007) AS fp
        |FROM toks""".stripMargin,
    "txt_token_count" ->
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS ws_tokens,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]+')) AS bpe_ish_tokens
        |FROM documents""".stripMargin,
    "txt_pii_redact" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com now'
        |         WHEN doc_id % 5 = 0 THEN text || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.17 logged'
        |         WHEN doc_id % 3 = 0 THEN text || ' call +1 555 0' || CAST(doc_id % 90 + 10 AS VARCHAR) || ' end'
        |         ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\b\d{1,3}(\.\d{1,3}){3}\b')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(text, '\+\d[\d ]{6,}\d')) AS BIGINT) AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
        |    '\b\d{1,3}(\.\d{1,3}){3}\b', '[IP]', 'g'),
        |    '\+\d[\d ]{6,}\d', '[PHONE]', 'g') AS redacted
        |FROM aug""".stripMargin,
    "txt_langid" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                             t -> t <> '') AS tokens
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id,
        |    len(list_filter(tokens, t -> t IN ('der','die','das','und','ist'))) AS s_de,
        |    len(list_filter(tokens, t -> t IN ('the','a','of','and','to'))) AS s_en,
        |    len(list_filter(tokens, t -> t IN ('el','la','de','y','que'))) AS s_es,
        |    len(list_filter(tokens, t -> t IN ('le','la','de','et','un'))) AS s_fr
        |  FROM toks)
        |SELECT doc_id,
        |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
        |       WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
        |       WHEN s_es >= s_fr THEN 'es'
        |       ELSE 'fr' END AS pred_lang,
        |  greatest(s_de, s_en, s_es, s_fr) AS score
        |FROM scored""".stripMargin,
    // replays the identical depth=4 x width=1024 md5 sketch: cell sums,
    // then est = min over rows of the token's cell
    "txt_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                            t -> t <> '')) AS token
        |  FROM documents),
        |tc AS (SELECT token, count(*) AS exact FROM toks GROUP BY 1),
        |cells AS (
        |  SELECT t.d AS d,
        |    CAST(('0x' || substr(md5(concat_ws(':', t.d, tc.token)), 1, 8)) AS BIGINT) % 1024 AS b,
        |    CAST(sum(tc.exact) AS BIGINT) AS cell
        |  FROM tc CROSS JOIN range(4) t(d) GROUP BY 1, 2),
        |est AS (
        |  SELECT tc.token, tc.exact, min(c.cell) AS est
        |  FROM tc CROSS JOIN range(4) t(d)
        |  JOIN cells c ON c.d = t.d AND c.b =
        |    CAST(('0x' || substr(md5(concat_ws(':', t.d, tc.token)), 1, 8)) AS BIGINT) % 1024
        |  GROUP BY 1, 2)
        |SELECT token, exact, est,
        |  row_number() OVER (ORDER BY exact DESC, token) AS rnk
        |FROM est QUALIFY rnk <= 20""".stripMargin,
    // pmi = ln(n·TU² / (TB·ca·cb)) with every factor cast to double
    // BEFORE the multiply so both engines evaluate the same expression
    // tree; TU/TB = total unigrams/bigrams
    "txt_pmi" ->
      """WITH toks AS (
        |  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                     t -> t <> '') AS tokens
        |  FROM documents),
        |bi AS (SELECT tokens[i+1] AS a, tokens[i+2] AS b, count(*) AS n
        |       FROM toks, unnest(range(len(tokens) - 1)) AS t(i)
        |       WHERE len(tokens) >= 2 GROUP BY 1, 2 HAVING count(*) >= 25),
        |cu AS (SELECT w, count(*) AS cw FROM
        |       (SELECT unnest(tokens) AS w FROM toks) GROUP BY 1),
        |tot AS (SELECT CAST(sum(len(tokens)) AS DOUBLE) AS tu,
        |               CAST(sum(greatest(len(tokens) - 1, 0)) AS DOUBLE) AS tb
        |        FROM toks)
        |SELECT bi.a, bi.b, bi.n,
        |  round(ln(CAST(bi.n AS DOUBLE) * tu * tu /
        |    (tb * CAST(ca.cw AS DOUBLE) * CAST(cb.cw AS DOUBLE))), 6) + 0.0 AS pmi
        |FROM bi JOIN cu ca ON ca.w = bi.a JOIN cu cb ON cb.w = bi.b
        |CROSS JOIN tot""".stripMargin,
  )
}
