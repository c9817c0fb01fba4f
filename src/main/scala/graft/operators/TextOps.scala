package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Text/IR scoring over the `documents` table: tokenize → term-doc COO →
  * TF-IDF / BM25 re-weighting, plus the training-data-pipeline text ops
  * (token stats, quality scores, fingerprints, language ID).
  *
  * TF-IDF/BM25 match the reference formulas exactly
  * (reference: cpp/include/raft/sparse/matrix/preprocessing.cuh:28-176 and
  * detail/preprocessing.cuh transform_tfidf/transform_bm25):
  *   tf      = ln(count)
  *   idf     = ln(num_docs / df + 1)          (df = nnz entries per term)
  *   tfidf   = tf · idf
  *   bm25    = idf · (k1+1)·tf / (k1·(1−b + b·len/avglen) + tf),
  *             k1 = 1.6, b = 0.75 (preprocessing.cuh:109-110)
  */
object TextOps {

  /** Portable 32-bit string hash: first 8 hex chars of md5 as an integer.
    * Used wherever randomness/fingerprints must be reproducible across
    * engines and partitionings (the role Philox counters play in the
    * reference, random/rng_device.cuh).
    */
  def h32(c: Column): Column = conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Tokenize: lowercase, split on non-alphanumerics, drop empties. */
  def tokenize(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= "").as("tokens"))

  /** Term-doc COO: (doc_id=row, term=col, tf=value). The lateral explode
    * is map-side; the (doc,term) aggregation shuffles once.
    */
  def termDoc(docs: DataFrame): DataFrame =
    tokenize(docs)
      .select(col("doc_id"), explode(col("tokens")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))

  /** Feature hashing (the hashing trick, Weinberger et al. 2009) —
    * count-sketch signed projection of the term-doc matrix into d fixed
    * lanes: proj_k(doc) = Σ_terms tf·s_k(term), s_k(term) = ±1 from the
    * term hash. THE constant-width featurizer at 100 TB (no vocabulary
    * to build, broadcast, or grow) and all-INTEGER arithmetic, so the
    * projection is bit-exact across engines and partitionings — unlike
    * a float JL projection, whose cross-engine summation order differs.
    * One explode + one (doc, lane) aggregate. */
  def featureHashing(docs: DataFrame, d: Int = 8): DataFrame =
    termDoc(docs)
      .select(col("doc_id"), col("tf").cast("long").as("tf"),
        explode(sequence(lit(0), lit(d - 1))).as("k"),
        col("term"))
      .select(col("doc_id"), col("k"),
        (col("tf") * (pmod(h32(concat_ws(":", col("term"), col("k"), lit("fh"))),
          lit(2L)) * 2L - 1L)).as("sv"))
      .groupBy(col("doc_id"), col("k"))
      .agg(sum(col("sv")).as("v"))

  /** TF-IDF per the reference formula; terms with tf=1 get weight 0
    * (tf = ln(count), as in transform_tfidf). */
  def tfidf(docs: DataFrame): DataFrame = {
    val td = termDoc(docs)
    val nDocs = docs.select(countDistinct(col("doc_id")).as("n"))
    // counts a td column the optimizer cannot fold: under count(1) it
    // prunes tf out of this subtree, whose exchange then differs from
    // td's and is not reused, so the corpus would be tokenized twice
    val df = td.groupBy(col("term")).agg(sum(signum(col("tf"))).cast("long").as("df"))
    td.join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"),
        round(log(col("tf")) * log(col("n").cast("double") / col("df") + 1.0), 6).as("w"))
  }

  /** L2-normalized TF-IDF vectors as a sparse COO: (doc_id, term, u) with
    * Σu² = 1 per doc. Zero-weight entries (tf=1 terms) are dropped — they
    * contribute nothing to either the norm or any dot product. Documents
    * whose every term has tf=1 vanish entirely (no direction to normalize).
    */
  def tfidfUnit(docs: DataFrame): DataFrame = {
    val w = tfidf(docs).where(col("w") =!= 0.0)
    val norms = w.groupBy(col("doc_id"))
      .agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    w.join(norms, Seq("doc_id"))
      .select(col("doc_id"), col("term"), (col("w") / col("nrm")).as("u"))
  }

  /** The enumeration [[cosineJoin]] runs: `Auto` defers to
    * [[choosePath]]; `Brute` and `Prefix` pin one (same output either way). */
  sealed trait CosinePath
  object CosinePath {
    case object Auto extends CosinePath
    case object Brute extends CosinePath
    case object Prefix extends CosinePath
  }

  private val Salts = 16 // shuffled self-join hot-key isolation, see SelfJoin
  private val HotDf = 256L

  /** The most unit rows the brute self join broadcasts (measured: see
    * [[cosineJoin]]). Above it that leg enumerates with the shuffled
    * `SelfJoin.meet`, so no driver ever builds a larger relation. */
  private val BroadcastRows = 1000000L

  /** Two-stage brute/prefix dispatch. Stage 1: at ≤ 1e6 unit-vector rows,
    * brute (at sf0.1 cross-corpus brute ran 5.3 s vs prefix 10.0 s — the
    * pruning overhead loses). Stage 2: a cost model, because a row count
    * cannot tell a selective corpus from template soup (sf1: 7.5e5 rows
    * but ~1e8 candidate pairs). `bruteEst` = Σ_t nA(t)·nB(t) over the full
    * term table is the brute join's volume, `candEst` the same sum over
    * the prefix index; prefix runs only at a 16× margin, which absorbs the
    * per-candidate verify cost. By-name: stage 1 never pays the estimates. */
  private[graft] def choosePath(uRows: Long, bruteEst: => Long,
      candEst: => Long): CosinePath =
    if (uRows <= 1000000L || candEst * 16 >= bruteEst) CosinePath.Brute
    else CosinePath.Prefix

  /** What a self and a cross join do differently, chosen once per
    * [[cosineJoin]] call. Both enumerators join a (doc_id, term, u) table
    * with itself on the term into (doc_a, doc_b, ua, ub): `brute` over the
    * doc-partitioned unit table, streaming it through a broadcast of the
    * other side, so its output keeps the stream side's doc partitioning;
    * `meet` with no bound on either side, over the prefix index or over a
    * unit table too large for `brute` to broadcast. `counts`: the per-term
    * sizes (term, na, nb) of either; `attach`: candidate (doc_a, doc_b)
    * pairs joined to the full vectors. */
  private final case class JoinForm(brute: DataFrame => DataFrame,
      meet: DataFrame => DataFrame, counts: DataFrame => DataFrame,
      attach: (DataFrame, DataFrame) => DataFrame)

  private def side(t: DataFrame, s: String): DataFrame =
    t.select(col("doc_id").as(s"doc_$s"), col("term"), col("u").as(s"u$s"))

  /** doc_a < doc_b. Brute streams u as doc_a and broadcasts all of it as
    * doc_b, so a hot term's pairs spread over every doc partition of the
    * stream side and need no salting. The prefix index, and a u above
    * BroadcastRows, can outgrow a broadcast, so `meet` shuffles: hot terms (df > HotDf, whose df² block
    * would land on ONE task of a plain term join) are split 2-D, the a
    * side salted by hash(doc) % Salts, the b side replicated to every salt,
    * so every pair still meets exactly once. Shuffled-hash, not sort-merge:
    * every key is massively duplicated, and SMJ's buffered-duplicate
    * iteration is several times slower than a hash-table probe there. */
  private val SelfJoin = JoinForm(
    brute = u => side(u, "a").join(broadcast(side(u, "b")), Seq("term"))
      .where(col("doc_a") < col("doc_b")),
    meet = t => {
      val ud = t.join(broadcast(t.groupBy(col("term")).agg(count(lit(1)).as("df"))),
        Seq("term"))
      val (cold, hot) = (ud.where(col("df") <= HotDf), ud.where(col("df") > HotDf))
      val hotPairs = side(hot, "a").withColumn("salt", pmod(hash(col("doc_a")), lit(Salts)))
        .join(side(hot, "b").withColumn("salt", explode(sequence(lit(0), lit(Salts - 1))))
          .hint("shuffle_hash"), Seq("term", "salt"))
        .drop("salt")
      side(cold, "a").join(side(cold, "b").hint("shuffle_hash"), Seq("term"))
        .unionByName(hotPairs).where(col("doc_a") < col("doc_b"))
    },
    counts = t => t.groupBy(col("term")).agg(count(lit(1)).as("na")).withColumn("nb", col("na")),
    // the term tables are the build sides: the candidate set's size is
    // data-dependent (template soup: ~1e8 pairs OOM'd a broadcast build)
    attach = (cand, u) => cand.join(side(u, "a").hint("shuffle_hash"), Seq("doc_a"))
      .join(side(u, "b").hint("shuffle_hash"), Seq("doc_b", "term")))

  /** doc_a = the eval docs, doc_b = the rest. The eval side is broadcast
    * (eval ≪ train), so the train corpus never shuffles in either
    * enumerator, and brute's output keeps u's doc partitioning on doc_b. */
  private def crossJoin(evalIds: DataFrame): JoinForm = {
    def sides(t: DataFrame) = (side(t.join(broadcast(evalIds), Seq("doc_id")), "a"),
      side(t.join(broadcast(evalIds), Seq("doc_id"), "left_anti"), "b"))
    def meet(t: DataFrame) = { val (a, b) = sides(t); broadcast(a).join(b, Seq("term")) }
    JoinForm(
      brute = meet,
      meet = meet,
      counts = t => t.join(broadcast(evalIds.withColumn("isE", lit(1))), Seq("doc_id"), "left")
        .groupBy(col("term")).agg(count(col("isE")).as("na"),
          (count(lit(1)) - count(col("isE"))).as("nb")),
      // the candidates are the build side against the train term table
      // (which moves its nnz rows, never the corpus); eval stays broadcast
      attach = (cand, u) => {
        val (a, b) = sides(u)
        b.join(cand.hint("shuffle_hash"), Seq("doc_b")).join(broadcast(a), Seq("doc_a", "term"))
      })
  }

  /** Cosine similarity join over L2-normalized TF-IDF vectors (reference:
    * sparse inner-product distance, cpp/include/raft/sparse/linalg/):
    * (doc_a, doc_b, sim) for every pair with sim ≥ tau, sim rounded to 4
    * places, weights and norms from the FULL corpus. Self join (`evalPred`
    * = None): doc_a < doc_b. Cross join (cosine decontamination): doc_a =
    * eval docs (where the predicate holds), doc_b = the rest.
    *
    * A term-keyed enumerator (never a doc×doc cross join) emits
    * p = u_a·u_b per shared term, and a per-pair sum keeps sim ≥ tau.
    * The unit table u is checkpointed once, hash-partitioned on doc_id at
    * the session's shuffle width, with AQE off (an unsized
    * [[graft.LoopPolicy]] scope: with AQE on, the checkpoint drops its
    * partitioning).
    *
    * Brute enumerates the full vectors and sums each pair where it is
    * enumerated, as All-Pairs does (Bayardo, Ma & Srikant, WWW 2007): it
    * streams u through a broadcast of the other side, so the pair
    * aggregate's input is already clustered on a doc key and no pair row
    * crosses a shuffle. A self join broadcasts all of u, so it runs this
    * way at ≤ 1e6 unit rows (BroadcastRows) only: stage 2 of
    * [[choosePath]] keeps brute above that whenever prefix cannot prune,
    * and Brute can be pinned at any size. Above the bound the brute self
    * join enumerates with the shuffled, salted `SelfJoin.meet` and sums
    * its pairs exchange first, as prefix does. Measured on a 4-core host
    * with a 4 GB driver heap, broadcasting a synthetic u (27 rows per doc,
    * terms from a 10k vocabulary), 3 runs each: at 1e6 rows the relation
    * is 134 MB, built in 0.55–0.83 s, and the driver heap peaked
    * 340–430 MB above its base (181 MB still held after a GC); at 1.3e6
    * rows, 168 MB, 0.75–0.86 s and 500–580 MB (229 MB held): the
    * relation grows about 134 MB per 1e6 rows, so 1e7 rows would pass
    * Spark's default 1 GB `spark.driver.maxResultSize`.
    *
    * Prefix is the LOSSLESS Bayardo filter: each doc indexes the head of
    * its rarest-first vector with suffix norm ≥ tau ([[prefixIndex]]); for
    * a pair with sim ≥ tau the first shared term s has
    * sim ≤ suffix_a(s)·‖u_b‖ (and symmetrically), so both sides index s
    * and the enumerator over the index (u = 1) finds the pair. Candidates
    * are verified against the full vectors: both paths share one oracle.
    * Every call increments exactly one of `xcos.brute` / `xcos.prefix`. */
  def cosineJoin(docs: DataFrame, tau: Double, evalPred: Option[Column] = None,
      path: CosinePath = CosinePath.Auto): DataFrame =
    cosineJoinBounded(docs, tau, evalPred, path, BroadcastRows)

  /** [[cosineJoin]] with the self join's broadcast bound as a parameter,
    * so a spec can cross it on a small corpus. */
  private[graft] def cosineJoinBounded(docs: DataFrame, tau: Double,
      evalPred: Option[Column], path: CosinePath, broadcastRows: Long): DataFrame = {
    val spark = docs.sparkSession
    val form = evalPred.fold(SelfJoin)(p => crossJoin(docs.where(p).select(col("doc_id"))))
    val u = graft.LoopPolicy.scope(spark, None, stepped = false) { parts =>
      tfidfUnit(docs).repartition(parts, col("doc_id")).localCheckpoint(true)
    }
    // Σ_t nA(t)·nB(t): the volume of an enumerator over t
    def volume(t: DataFrame): Long = form.counts(t)
      .agg(coalesce(sum(col("na") * col("nb")), lit(0L))).head().getLong(0)
    // built past stage 1 or when Prefix is pinned; a lazy checkpoint, so the
    // first job that reads it (candEst or the enumerator) computes it once
    lazy val idx = prefixIndex(u, tau).localCheckpoint(false)
    // read by Auto and by a brute self join: one job over the checkpointed
    // blocks (Dataset.count plans an aggregate exchange, two jobs under AQE)
    lazy val uRows = {
      val n = u.queryExecution.toRdd.count(); graft.Instrument.inc("xcos.u_rows", n); n
    }
    val chosen = path match {
      case CosinePath.Auto =>
        lazy val bruteEst = { val v = volume(u); graft.Instrument.inc("xcos.brute_est", v); v }
        lazy val candEst = { val v = volume(idx); graft.Instrument.inc("xcos.cand_est", v); v }
        choosePath(uRows, bruteEst, candEst)
      case pinned => pinned
    }
    graft.Instrument.inc(if (chosen == CosinePath.Prefix) "xcos.prefix" else "xcos.brute")
    def products(pairs: DataFrame) =
      pairs.select(col("doc_a"), col("doc_b"), (col("ua") * col("ub")).as("p"))
    // a brute self join broadcasts all of u, so only up to broadcastRows;
    // the cross join's brute broadcasts the eval side alone, at any size
    val p = if (chosen == CosinePath.Brute && (evalPred.nonEmpty || uRows <= broadcastRows)) {
      products(form.brute(u))
    } else {
      val pairs = if (chosen == CosinePath.Prefix) {
        val cand = form.meet(idx.withColumn("u", lit(1.0)))
          .select(col("doc_a"), col("doc_b")).distinct()
        form.attach(cand, u)
      } else form.meet(u)
      // exchange first: the products arrive partitioned by term (by
      // (doc_b, term) once verified), and with ~#groups ≈ #rows/8 a
      // map-side partial aggregate builds a near-rows-sized hash map per
      // task and spills; repartitioning on the pair key first makes the
      // aggregate build one small co-located map instead (measured 1.9×
      // on the 9.4e7-row full-corpus probe)
      products(pairs).repartition(col("doc_a"), col("doc_b"))
    }
    sumPairSims(p, tau)
  }

  /** Per-pair sum of the products p, keeping sim ≥ tau: a plain aggregate,
    * since each leg of [[cosineJoin]] hands it input already clustered. */
  private def sumPairSims(pairs: DataFrame, tau: Double): DataFrame =
    pairs.groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("p")).as("s"))
      .where(col("s") >= tau)
      .select(col("doc_a"), col("doc_b"), round(col("s"), 4).as("sim"))

  /** Top-k cosine neighbors per document (sparse text-side similarity
    * search): symmetrize the a<b self-join table from [[cosineJoin]], rank
    * by ROUNDED similarity with a doc-id tie-break — rounding first makes
    * the ranking engine-portable (raw float sums differ in the last ulp
    * across summation orders). row_number over a per-doc window:
    * WindowGroupLimit prunes to k per partition map-side, and the
    * partition key is the doc, so no global sort exists at any scale. */
  def cosineTopK(docs: DataFrame, tau: Double, k: Int): DataFrame = {
    val p = cosineJoin(docs, tau)
    // symmetrize by exploding each pair both ways: a union of two reads
    // of `p` ran the final aggregate + filter stages twice
    val sym = p.select(explode(array(
        struct(col("doc_a").as("doc_id"), col("doc_b").as("nbr")),
        struct(col("doc_b").as("doc_id"), col("doc_a").as("nbr")))).as("e"),
        col("sim"))
      .select(col("e.doc_id").as("doc_id"), col("e.nbr").as("nbr"), col("sim"))
    val bySim = Window.partitionBy(col("doc_id"))
      .orderBy(col("sim").desc, col("nbr"))
    sym.select(col("doc_id"), col("nbr"), col("sim"),
        row_number().over(bySim).as("rnk"))
      .where(col("rnk") <= k)
  }

  /** The indexed head of each doc's rarity-sorted unit vector: entries
    * whose suffix norm is ≥ tau (see [[cosineJoin]]). Exposed so
    * the pruning ratio is measurable in specs. */
  def prefixIndex(u: DataFrame, tau: Double): DataFrame = {
    val dfT = u.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // suffix norm under the global (df asc, term) order — per-doc window,
    // bounded by document length, never a global sort
    val byRarity = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("term"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    u.join(broadcast(dfT), Seq("term"))
      .select(col("doc_id"), col("term"),
        sqrt(sum(col("u") * col("u")).over(byRarity)).as("suffix"))
      .where(col("suffix") >= tau - 1e-9)
      .select(col("doc_id"), col("term"))
  }

  /** Okapi BM25 per the reference formula (k1=1.6, b=0.75). */
  def bm25(docs: DataFrame, k1: Double = 1.6, b: Double = 0.75): DataFrame = {
    val td = termDoc(docs)
    val df = td.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val docLen = td.groupBy(col("doc_id")).agg(sum(col("tf")).as("len"))
    val totals = td.agg(sum(col("tf")).as("total_len"),
      countDistinct(col("doc_id")).as("n"))
    val tf = log(col("tf"))
    val idf = log(col("n").cast("double") / col("df") + 1.0)
    val avglen = col("total_len") / col("n")
    val bm = (lit(k1 + 1.0) * tf) /
      (lit(k1) * (lit(1.0 - b) + lit(b) * (col("len") / avglen)) + tf)
    td.join(broadcast(df), Seq("term"))
      .join(docLen, Seq("doc_id"))
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("term"), round(idf * bm, 6).as("w"))
  }

  /** BM25 retrieval: score every document against a fixed term query by
    * summing the per-term BM25 weights (the IR use of encode_bm25 —
    * reference: sparse/matrix/preprocessing.cuh:101). One semi-join on the
    * query terms, then a per-doc sum. */
  def bm25Score(docs: DataFrame, queryTerms: Seq[String]): DataFrame =
    bm25(docs)
      .where(col("term").isin(queryTerms.map(t => t: Any): _*))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("w")), 6).as("score"), count(lit(1)).as("n_hit_terms"))

  /** Token count + quality heuristics (training-pipeline text analysis):
    * token count, mean token length, stopword ratio, distinct-token ratio.
    */
  def quality(docs: DataFrame): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it")
    val toks = tokenize(docs)
    toks.select(
      col("doc_id"),
      size(col("tokens")).as("n_tokens"),
      round(aggregate(col("tokens"), lit(0L), (acc, t) => acc + length(t)).cast("double")
        / size(col("tokens")), 4).as("mean_tok_len"),
      round(size(filter(col("tokens"), t => t.isin(stop.map(lit): _*).cast("boolean")))
        .cast("double") / size(col("tokens")), 4).as("stopword_ratio"),
      round(size(array_distinct(col("tokens"))).cast("double") / size(col("tokens")), 4)
        .as("distinct_ratio"))
  }

  /** Token counting two ways (training-pipeline budgeting): whitespace
    * tokens and a BPE-ish pre-tokenization count — letter runs, digit runs,
    * and punctuation runs counted separately (the GPT-2-style pre-tokenizer
    * shape, without the merge table). Pure per-row expressions, no shuffle.
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(filter(split(col("text"), "\\s+"), t => t =!= "")).as("ws_tokens"),
      regexp_count(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]+"))
        .as("bpe_ish_tokens"))

  /** Document fingerprint: order-sensitive polynomial rolling hash over
    * token h32 values, mod 1e9+7 (the rolling-hash fingerprint op of the
    * training-pipeline surface; deterministic across partitionings).
    */
  def fingerprint(docs: DataFrame): DataFrame =
    tokenize(docs).select(
      col("doc_id"),
      aggregate(col("tokens"), lit(7L),
        (acc, t) => (acc * 131L + h32(t)) % 1000000007L).as("fp"))

  /** N-gram language-ID heuristic: score = stopword-list hits per language,
    * predict the argmax (ties: lexicographic language order). The testdata
    * text is synthetic so this is exercised for determinism, not accuracy.
    */
  def langId(docs: DataFrame): DataFrame = {
    val lists = Map(
      "en" -> Seq("the", "a", "of", "and", "to"),
      "es" -> Seq("el", "la", "de", "y", "que"),
      "fr" -> Seq("le", "la", "de", "et", "un"),
      "de" -> Seq("der", "die", "das", "und", "ist"))
    val toks = tokenize(docs)
    val scores = lists.toSeq.sortBy(_._1).map { case (lang, words) =>
      size(filter(col("tokens"), t => t.isin(words.map(lit): _*).cast("boolean"))).as(s"s_$lang")
    }
    val scored = toks.select(col("doc_id") +: scores: _*)
    val langs = lists.keys.toSeq.sorted
    val best = langs.map(l => struct(col(s"s_$l").as("s"), lit(l).as("lang")))
      .reduce((a, b) => when(b.getField("s") > a.getField("s"), b).otherwise(a))
    scored.select(col("doc_id"), best.getField("lang").as("pred_lang"),
      greatest(langs.map(l => col(s"s_$l")): _*).as("score"))
  }

  /** First step of BPE vocabulary induction: corpus-wide adjacent
    * character-pair frequencies within tokens — the argmax pair is the
    * first merge, and every merge round repeats exactly this shape (pair
    * explode + count). One map-side explode + one count aggregate over
    * the corpus; the top-N window runs over distinct pairs only (≤
    * charset², never corpus-sized). */
  def bpePairStats(docs: DataFrame, topN: Int = 20): DataFrame = {
    val toks = tokenize(docs).select(explode(col("tokens")).as("t"))
    val pairs = toks.where(length(col("t")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("t")) - 1),
        i => col("t").substr(i, lit(2)))).as("pair"))
    val counts = pairs.groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("cnt").desc, col("pair").asc)
    counts.withColumn("rnk", row_number().over(w)).where(col("rnk") <= topN)
  }

  /** Domain re-balancing sample (the data-mixing step of corpus assembly;
    * the inverse-sqrt shape of word2vec subsampling): per (lang, source)
    * group the keep rate is min(1, c/√n) — over-represented domains are
    * down-sampled toward a flatter mixture. Kept docs are decided by the
    * deterministic counter-hash draw, so the sample is reproducible under
    * any partitioning (and by the SQL oracle). Rates use only IEEE-exact
    * ops (sqrt, divide) so both engines compare the same bits. Emits the
    * per-group curation report (n_docs, rate, n_kept). */
  def mixtureSample(docs: DataFrame, c: Double = 2.0, seed: Long = 19): DataFrame = {
    val rates = docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"))
      .select(col("lang"), col("source"), col("n"),
        least(lit(1.0), lit(c) / sqrt(col("n").cast("double"))).as("rate"))
    docs.select(col("doc_id"), col("lang"), col("source"),
        RandomOps.hashU(col("doc_id"), seed, "mix").as("u"))
      .join(broadcast(rates), Seq("lang", "source"))
      .groupBy(col("lang"), col("source"))
      .agg(max(col("n")).as("n_docs"),
        (round(max(col("rate")), 6) + 0.0).as("rate"),
        sum((col("u") < col("rate")).cast("int")).as("n_kept"))
  }

  /** Greedy sequence packing into fixed context windows (the
    * docs→training-sequences step): concatenate docs in doc_id order
    * within each source shard; bin = which ctx-token window the doc's
    * first token lands in. Pure integer arithmetic over a per-shard
    * window cumsum — at 100 TB the shard key bounds each window
    * partition (packing is per-shard by construction, as in real
    * pipelines; there is no global order to sort). Emits per
    * (source, bin) doc and token counts. */
  def seqPacking(docs: DataFrame, ctx: Long = 512): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    tokenCounts(docs).select(col("doc_id"), col("ws_tokens"))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .withColumn("cum", sum(col("ws_tokens")).over(w))
      .select(col("source"),
        ((col("cum") - col("ws_tokens")) / ctx).cast("long").as("bin"),
        col("ws_tokens"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ws_tokens")).cast("long").as("n_tokens"))
  }

  /** Unigram-LM negative log-likelihood per document (the CCNet-style
    * perplexity proxy for quality bucketing): train p(term) = cf/total on
    * the corpus itself, score each doc by −Σ tf·ln p / Σ tf. The model is
    * one aggregate over the term-doc table; scoring is a broadcast join —
    * same two-shuffle shape as tfidf. */
  def unigramLogprob(docs: DataFrame): DataFrame = {
    val td = termDoc(docs)
    val cf = td.groupBy(col("term")).agg(sum(col("tf")).as("cf"))
    val tot = td.agg(sum(col("tf")).as("tot"))
    td.join(broadcast(cf), Seq("term")).crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg((round(-sum(col("tf") * log(col("cf") / col("tot"))) / sum(col("tf")), 4)
          + 0.0).as("nll"),
        sum(col("tf")).cast("long").as("n_tokens"))
  }

  /** Gopher-style repetition metrics per document (Rae et al. 2021 §A1.1
    * repetition filters, re-expressed over token 2-grams since the
    * synthetic corpus has no line structure): the duplicate-2-gram
    * fraction (1 − distinct/total) and the top-2-gram fraction (count of
    * the most frequent 2-gram / total). One explode + one (doc, gram)
    * aggregation — shuffle keyed by doc, scales linearly in corpus size.
    */
  def repetition(docs: DataFrame): DataFrame = {
    val toks = tokenize(docs).where(size(col("tokens")) >= 2)
    val grams = toks.select(col("doc_id"), (size(col("tokens")) - 1).as("total"),
      explode(transform(sequence(lit(0), size(col("tokens")) - 2),
        i => concat_ws(" ", element_at(col("tokens"), i + 1),
          element_at(col("tokens"), i + 2)))).as("g"))
    grams.groupBy(col("doc_id"), col("total"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("total"))
      .agg(count(lit(1)).as("nd"), max(col("c")).as("topc"))
      .select(col("doc_id"), col("total").as("n_2grams"),
        (round(lit(1.0) - col("nd").cast("double") / col("total"), 4) + 0.0)
          .as("dup_2gram_frac"),
        (round(col("topc").cast("double") / col("total"), 4) + 0.0)
          .as("top_2gram_frac"))
  }

  /** PMI collocation extraction: pointwise mutual information of adjacent
    * token pairs, pmi(a,b) = ln( P(a,b) / (P(a)·P(b)) ) with P estimated
    * from corpus bigram/unigram counts — THE classical collocation /
    * multi-word-expression detector (Church &amp; Hanks 1990), and a
    * tokenizer-merge signal cousin of [[bpePairs]]. Two corpus
    * aggregations (bigram counts keyed by the pair, unigram counts keyed
    * by the word) + two equi-joins of the pair table against the unigram
    * table (the pair table is already ≤ V² and minCount-pruned BEFORE
    * the joins; AQE broadcasts the unigram side when small). Counts stay
    * integers end-to-end; each factor is cast to double and the ratio
    * takes ONE ln at the end — the multiply order is fixed by the
    * expression tree, so both engines evaluate bit-identically. */
  def pmiCollocations(docs: DataFrame, minCount: Long): DataFrame = {
    val toks = tokenize(docs)
    val bi = toks.where(size(col("tokens")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("tokens")) - 2),
        i => struct(element_at(col("tokens"), i + 1).as("a"),
          element_at(col("tokens"), i + 2).as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
    val uni = toks.select(explode(col("tokens")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val totals = toks.select((size(col("tokens"))).cast("long").as("nt"))
      .agg(sum(col("nt")).as("tu"),
        sum(greatest(col("nt") - 1L, lit(0L))).as("tb"))
    bi.join(uni.select(col("w").as("a"), col("cw").as("ca")), Seq("a"))
      .join(uni.select(col("w").as("b"), col("cw").as("cb")), Seq("b"))
      .crossJoin(broadcast(totals))
      .select(col("a"), col("b"), col("n"),
        (round(log(col("n").cast("double") * col("tu").cast("double") *
            col("tu").cast("double") /
            (col("tb").cast("double") * col("ca").cast("double") *
              col("cb").cast("double"))), 6) + 0.0).as("pmi"))
  }

  /** Per-doc keep flag under the composed rules (the decision
    * [[qualityGate]] rolls up and [[curationReport]] pipelines).
    *
    * Single stateless pass: every rule metric is an expression over ONE
    * materialized token array — no second tokenize, no doc-keyed joins,
    * no 2-gram explode+aggregate (the dup-2-gram fraction only needs the
    * DISTINCT gram count, which array_distinct gives per row). The earlier
    * quality⋈repetition composition paid 2 full text-split passes and two
    * shuffles for metrics that never leave the row. Values replicate
    * [[quality]]/[[repetition]] exactly (same rounding, and the same
    * implicit n_tokens ≥ 2 row filter the inner join against repetition's
    * output imposed). */
  def qualityKeepFlags(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"),
        filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= "").as("tk"))
      .where(size(col("tk")) >= 2)
    val nTok = size(col("tk"))
    val meanLen = round(aggregate(col("tk"), lit(0L), (acc, t) => acc + length(t))
      .cast("double") / nTok, 4)
    val distinctRatio = round(size(array_distinct(col("tk"))).cast("double") / nTok, 4)
    val grams = transform(sequence(lit(0), nTok - 2),
      i => concat_ws(" ", element_at(col("tk"), i + 1), element_at(col("tk"), i + 2)))
    val dupFrac = round(lit(1.0) -
      size(array_distinct(grams)).cast("double") / (nTok - 1).cast("double"), 4) + 0.0
    val keep = (nTok >= 8) && (nTok <= 2000) &&
      (meanLen >= 2.0) && (meanLen <= 12.0) &&
      (distinctRatio >= 0.2) && (dupFrac <= 0.9)
    base.select(col("doc_id"), col("source"), keep.cast("int").as("keep"))
  }

  /** Count-min-sketch heavy hitters — the vocabulary/stopword-list
    * builder for a 100 TB corpus: the sketch is a depth×width counter
    * grid, each (d, bucket) cell = Σ counts of tokens hashing there — a
    * single groupBy whose state is depth·width cells REGARDLESS of
    * vocabulary size (the point vs an exact token groupBy whose state is
    * the vocabulary). est(token) = min over rows of its cell (classic CMS
    * overestimate; Cormode & Muthukrishnan '05). Emitted here for the
    * top-k tokens by exact count next to their exact counts, so the
    * overestimate property is visible in the output and the oracle can
    * replay the identical md5 bucket hashes. */
  def heavyHittersCms(docs: DataFrame, depth: Int = 4, width: Int = 1024,
      k: Int = 20): DataFrame = {
    val toks = tokenize(docs)
      .select(explode(col("tokens")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("exact"))
    def bucket(d: Int, c: Column) =
      pmod(h32(concat_ws(":", lit(d), c)), lit(width))
    val cells = toks.select(col("exact") +:
        (0 until depth).map(d => bucket(d, col("token")).as(s"b$d")): _*)
    val grids = (0 until depth).map { d =>
      cells.groupBy(col(s"b$d").as("b")).agg(sum(col("exact")).as("cell"))
        .select(lit(d).as("d"), col("b"), col("cell"))
    }.reduce(_ unionByName _)
    val est = (0 until depth).foldLeft(
      toks.select(col("token"), col("exact"))) { (acc, d) =>
      acc.join(grids.where(col("d") === d)
          .select(col("b").as(s"b$d"), col("cell").as(s"c$d")),
        bucket(d, col("token")) === col(s"b$d"))
        .drop(s"b$d")
    }
    // top-k via sort+limit (TakeOrdered) — the rank window would
    // single-partition the vocabulary-sized est table; rank is
    // recomputed over the k survivors only
    val w = Window.orderBy(col("exact").desc, col("token").asc)
    est.select(col("token"), col("exact"),
        least((0 until depth).map(d => col(s"c$d")): _*).as("est"))
      .orderBy(col("exact").desc, col("token").asc).limit(k)
      .withColumn("rnk", row_number().over(w))
      .select(col("token"), col("exact"), col("est"), col("rnk"))
  }

  /** PII redaction pass — the scrub step a curation pipeline runs before
    * training-data release: emails, IPv4 addresses, and international
    * phone numbers are replaced with typed placeholders, with per-doc
    * match counts for the audit report. Pure per-row regex expressions
    * (codegen'd, no shuffle, streams through 100 TB at scan speed).
    * Patterns are deliberately restricted to syntax that parses
    * identically under Java regex (Spark) and RE2 (DuckDB oracle): no
    * lookaround, no backreferences. Replacement order matters: emails
    * first (their local part can contain digits a later pattern would
    * chew), then IPs, then phones (anchored on '+' so they can't match
    * inside an already-redacted IP).
    */
  def piiRedact(docs: DataFrame): DataFrame = {
    val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val ip = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"
    val phone = "\\+\\d[\\d ]{6,}\\d"
    val redacted = regexp_replace(regexp_replace(regexp_replace(col("text"),
      lit(email), lit("[EMAIL]")), lit(ip), lit("[IP]")), lit(phone), lit("[PHONE]"))
    docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(email), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(col("text"), lit(ip), lit(0))).cast("long").as("n_ips"),
      size(regexp_extract_all(col("text"), lit(phone), lit(0))).cast("long").as("n_phones"),
      redacted.as("redacted"))
  }

  /** Composed quality gate (the C4/Gopher-style keep/drop decision a
    * training pipeline applies before tokenization): a document is kept
    * iff token count, mean token length, distinct-token ratio, and
    * duplicate-2-gram fraction all sit inside fixed bounds. Emits
    * per-source keep rates — the corpus-curation report. The per-doc
    * flags are one stateless pass ([[qualityKeepFlags]]); the per-source
    * rollup is a tiny aggregate.
    */
  def qualityGate(docs: DataFrame): DataFrame =
    qualityKeepFlags(docs)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("keep")).as("n_keep"),
        (round(sum(col("keep")).cast("double") / count(lit(1)), 4) + 0.0)
          .as("keep_rate"))

  /** End-to-end curation report — the whole batch pipeline composed as
    * ONE declarative query: quality gate → exact-dedup survivor collapse
    * (min doc_id per content hash) → token budget + context-window
    * packing of the survivors, rolled up per source. Every stage is an
    * operator that also ships standalone; the composition costs only
    * doc-keyed joins and the per-source rollups, so the 100 TB shape is
    * the sum of its parts — no new shuffle classes appear. */
  def curationReport(docs: DataFrame, ctx: Long = 512): DataFrame = {
    val kept = docs.join(
      qualityKeepFlags(docs).where(col("keep") === 1).select(col("doc_id")), Seq("doc_id"))
    val survIds = kept.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    val sdocs = kept.join(survIds, Seq("doc_id"))
    val raw = docs.groupBy(col("source")).agg(count(lit(1)).as("n_raw"))
    val gated = kept.groupBy(col("source")).agg(count(lit(1)).as("n_gated"))
    val uniq = tokenCounts(sdocs).select(col("doc_id"), col("ws_tokens"))
      .join(sdocs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_unique"), sum(col("ws_tokens")).cast("long").as("n_tokens"))
    val bins = seqPacking(sdocs, ctx).groupBy(col("source")).agg(count(lit(1)).as("n_bins"))
    raw.join(gated, Seq("source"), "left").join(uniq, Seq("source"), "left")
      .join(bins, Seq("source"), "left")
      .select(col("source"), col("n_raw"),
        coalesce(col("n_gated"), lit(0L)).as("n_gated"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_bins"), lit(0L)).as("n_bins"))
  }

  /** BPE tokenizer TRAINING (Sennrich et al. 2016), the iterative loop
    * [[bpePairStats]] is one round of: per round, count symbol pairs
    * over the word vocabulary (weighted by word frequency), take the
    * most frequent pair (ties by pair lexicographically), and merge its
    * non-overlapping occurrences greedily left-to-right in every word.
    * Returns the learned merge table (round, p1, p2, freq).
    *
    * Distribution shape per round: one pair-count aggregate over the
    * VOCABULARY (≪ corpus — words, not occurrences), a 1-row collect of
    * the argmax, and a per-row array fold for the rewrite — no shuffle
    * touches the corpus after the initial word count. The greedy rewrite
    * is a left fold whose accumulator is the merged prefix: a merge
    * emits the concatenated symbol, which can never equal p1 again, so
    * chained overlaps resolve exactly as sequential BPE does. */
  def bpeTrainMerges(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeTrain(docs, rounds)._2.toDF("round", "p1", "p2", "freq")
  }

  /** The shared merge loop: returns (final vocab as (w, cnt, syms), the
    * learned merge table). The vocab state after the last round IS the
    * trained tokenizer applied to every word type — encoding the corpus
    * is a lookup into it, no per-document merge loop. */
  private def bpeTrain(docs: DataFrame, rounds: Int): (DataFrame, Seq[(Int, String, String, Long)]) = {
    var vocab = tokenize(docs).select(explode(col("tokens")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("w"), col("cnt"),
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").as("syms"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    for (r <- 1 to rounds) {
      val best = vocab.where(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(0, size(syms) - 2), i -> struct(syms[i] AS p1, syms[i + 1] AS p2))")).as("p"))
        .groupBy(col("p.p1").as("p1"), col("p.p2").as("p2"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("p1").asc, col("p2").asc)
        .limit(1).collect()
      if (best.nonEmpty) {
        val (p1, p2, c) = (best.head.getString(0), best.head.getString(1), best.head.getLong(2))
        merges += ((r, p1, p2, c))
        val (l1, l2) = (lit(p1), lit(p2))
        vocab = vocab.select(col("w"), col("cnt"),
          aggregate(col("syms"), array().cast("array<string>"), (acc, s) =>
            when(size(acc) > 0 && element_at(acc, -1) === l1 && s === l2,
              concat(slice(acc, lit(1), size(acc) - 1), array(concat(l1, l2))))
              .otherwise(concat(acc, array(s)))).as("syms"))
          .localCheckpoint(true)
      }
    }
    (vocab, merges.toSeq)
  }

  /** BPE tokenizer APPLICATION: encode the corpus with the merges
    * [[bpeTrainMerges]] learns and report the resulting subword piece
    * histogram — (piece, n_occ = corpus occurrences weighted by word
    * frequency, n_words = word types containing the piece), top `topN`
    * by occurrence with deterministic ties.
    *
    * Because BPE merges operate within words, encoding the corpus never
    * touches documents: the trained vocab state maps every word TYPE to
    * its final symbol sequence, and corpus-level counts are one explode +
    * aggregate over that vocab (≪ corpus). At 100 TB the heavy object is
    * still the word-count aggregate the training loop starts from. */
  def bpeEncode(docs: DataFrame, rounds: Int = 3, topN: Int = 50): DataFrame = {
    val (vocab, _) = bpeTrain(docs, rounds)
    val hist = vocab.select(col("w"), col("cnt"), explode(col("syms")).as("piece"))
      .groupBy(col("piece"))
      .agg(sum(col("cnt")).as("n_occ"), countDistinct(col("w")).as("n_words"))
    // top-N via sort+limit (TakeOrdered: per-partition heaps) — a global
    // rank WINDOW here would single-partition the whole piece histogram,
    // which is vocabulary-sized; the rank is recomputed on the <= topN
    // survivors only
    hist.orderBy(col("n_occ").desc, col("piece").asc).limit(topN)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("n_occ").desc, col("piece").asc)))
  }

  /** Greedy budget selection — "take the best docs until the token
    * budget is spent", the final step of a quality-scored curation run:
    * rank docs by a quality proxy (distinct-token count, integer so the
    * rank is bit-deterministic; swap in any per-doc score), cumulative
    * whitespace-token cost in rank order, keep while cum ≤ budget.
    * The global rank IS the semantics (a total order over docs), so the
    * one range exchange is irreducible; everything else is a window
    * cumsum. Returns the per-source selection report. */
  def budgetSelect(docs: DataFrame, budget: Long = 20000L): DataFrame = {
    val scored = tokenize(docs)
      .select(col("doc_id"), size(array_distinct(col("tokens"))).cast("long").as("score"))
      .join(docs.select(col("doc_id"), col("source"),
        size(filter(split(col("text"), "\\s+"), t => t =!= "")).cast("long").as("cost")),
        Seq("doc_id"))
    // distributed prefix sum in (score desc, doc_id) order — the shared
    // RankUtils TeraSort shape (range partition + in-partition cumsum +
    // broadcast per-partition offsets); a bare global-ORDER window would
    // move the whole corpus to ONE task.
    RankUtils.globalPrefixSum(scored,
        Seq((-col("score")).as("ns"), col("doc_id")), col("cost"), "cum")
      .where(col("cum") <= budget)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("cost")).as("n_tokens"),
        min(col("score")).as("min_score"))
  }

  /** Deterministic GLOBAL SHUFFLE layout (the "shuffle shards before
    * training" step every data pipeline ends with): shuffle key =
    * h32(doc_id:salt) — a pure function of document identity, so the
    * permutation is reproducible across runs/engines and independent of
    * input partitioning (the RNG-ops invariant). Because the key is
    * uniform on [0, 2³²), shard = key·nShards >> 32 needs NO sampling
    * pass or global sort — fixed ranges, balanced in expectation. The
    * write form is `repartitionByRange(n, $"sk").sortWithinPartitions
    * ("sk").write...` — one range exchange total. This query emits the
    * layout evidence: per-shard doc count, key range, and source mix
    * (a well-shuffled layout lands every source in every shard). */
  def globalShuffle(docs: DataFrame, nShards: Int = 32, salt: Long = 6L): DataFrame =
    docs.select(col("doc_id"), col("source"),
        h32(concat_ws(":", col("doc_id"), lit(salt), lit("gshuf"))).as("sk"))
      .withColumn("shard", shiftright(col("sk") * nShards, 32))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("cnt"),
        min(col("sk")).as("min_sk"), max(col("sk")).as("max_sk"),
        countDistinct(col("source")).as("n_sources"))

  /** Interpolated bigram LM scoring (the CCNet-style perplexity quality
    * signal, one order up from [[unigramLogprob]]): train bigram +
    * unigram counts on the corpus itself, score each doc by
    *
    *   p(w2|w1) = λ·c(w1 w2)/c(w1) + (1−λ)·c(w2)/T,   λ = 0.7
    *   nll(doc) = −Σ ln p(wᵢ|wᵢ₋₁) / (#bigrams)
    *
    * Count tables are keyed aggregates broadcast onto the per-doc bigram
    * occurrences — same shuffle shape as the unigram model plus one more
    * broadcast join, linear in corpus size. Returns (doc_id, nll,
    * n_bigrams) for docs with ≥ 2 tokens. */
  def bigramNll(docs: DataFrame, lambda: Double = 0.7): DataFrame = {
    // tokenize ONCE (r14, guide §1.2): the unigram table below previously
    // re-ran the regex split over the whole corpus — one checkpointed
    // tokenization now feeds both the bigram and unigram counts (lazy:
    // the bigram aggregate's job pays the materialization)
    val toksAll = tokenize(docs).localCheckpoint(false)
    val toks = toksAll.where(size(col("tokens")) >= 2)
    val bi = toks.select(col("doc_id"),
      explode(transform(sequence(lit(0), size(col("tokens")) - 2),
        i => struct(element_at(col("tokens"), i + 1).as("w1"),
          element_at(col("tokens"), i + 2).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .localCheckpoint(true)
    val c12 = bi.groupBy(col("w1"), col("w2")).agg(sum(col("tf")).as("c12"))
    val uni = toksAll.select(col("doc_id"), explode(col("tokens")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).cast("double").as("cw"))
      .localCheckpoint(true)
    val tot = uni.agg(sum(col("cw")).as("t"))
    bi.join(broadcast(c12), Seq("w1", "w2"))
      .join(broadcast(uni.select(col("w").as("w1"), col("cw").as("c1"))), Seq("w1"))
      .join(broadcast(uni.select(col("w").as("w2"), col("cw").as("c2"))), Seq("w2"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("tf"),
        log(lit(lambda) * col("c12") / col("c1") +
          lit(1.0 - lambda) * col("c2") / col("t")).as("lp"))
      .groupBy(col("doc_id"))
      .agg((round(-sum(col("tf") * col("lp")) / sum(col("tf")), 4) + 0.0).as("nll"),
        sum(col("tf")).cast("long").as("n_bigrams"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): rank every
    * document by its LM negative log-likelihood ([[bigramNll]] — the
    * in-corpus interpolated bigram model standing in for CCNet's
    * KenLM), split the ranking into `buckets` equal-population tertiles
    * (head = most fluent, tail = most perplexed — CCNet keeps head+
    * middle), and report each bucket's population and NLL envelope.
    * The rank is RankUtils' range-partitioned global row number over
    * the total order (nll, doc_id) — deterministic under ties, never a
    * single-task window — so the bucket boundary is an exact count
    * quantile, not a float threshold two engines could straddle. */
  def pplBuckets(docs: DataFrame, buckets: Int = 3): DataFrame = {
    val nll = bigramNll(docs)
    val ranked = RankUtils.globalRowNumber(
      nll, Seq(col("nll"), col("doc_id")), "rn")
    val n = broadcast(ranked.agg(count(lit(1)).as("n")))
    ranked.crossJoin(n)
      .select(col("nll"),
        expr(s"((rn - 1) * $buckets) div n").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        (round(avg(col("nll")), 4) + 0.0).as("avg_nll"),
        (min(col("nll")) + 0.0).as("min_nll"),
        (max(col("nll")) + 0.0).as("max_nll"))
  }

  /** DSIR data selection (Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling"): score every raw document by the
    * log importance ratio of a hashed-n-gram bag model fit on a TARGET
    * subset vs the full RAW corpus, then keep the top-N.
    *
    *   feature(doc) = multiset of h32(unigram | bigram) % buckets
    *   p_t(b), p_r(b) = Laplace-smoothed bucket frequencies (target/raw)
    *   log w(doc)    = Σ_features ln p_t(b) − ln p_r(b)
    *
    * Here the target is the lang = targetLang slice (the "formal text"
    * proxy the paper's experiments use); the bucket tables are two tiny
    * keyed aggregates broadcast back onto the per-doc feature counts, so
    * the whole selection is: one explode, one (doc, bucket) aggregate,
    * two broadcast joins, one doc-keyed rollup — linear in corpus size,
    * bucket state O(buckets) regardless of vocabulary. Returns
    * (doc_id, n_feats, logw, keep) with keep = top-keepN by (logw desc,
    * doc_id asc). */
  def dsirSelect(docs: DataFrame, targetLang: String = "en",
      buckets: Int = 128, keepN: Int = 100): DataFrame = {
    val toks = tokenize(docs)
    // unigrams ++ bigrams (guard: sequence(0,-1) would DESCEND, not empty)
    val bigrams = when(size(col("tokens")) >= 2,
      transform(sequence(lit(0), size(col("tokens")) - 2),
        i => concat_ws(" ", element_at(col("tokens"), i + 1),
          element_at(col("tokens"), i + 2))))
      .otherwise(array().cast("array<string>"))
    val grams = toks.select(col("doc_id"),
      explode(concat(col("tokens"), bigrams)).as("g"))
    val feats = grams
      .select(col("doc_id"), (h32(col("g")) % buckets).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).cast("double").as("tf"))
      .localCheckpoint(true)
    val isTarget = docs.where(col("lang") === targetLang).select(col("doc_id"))
    val rawC = feats.groupBy(col("b")).agg(sum(col("tf")).as("cr"))
    val tgtC = feats.join(isTarget, Seq("doc_id"))
      .groupBy(col("b")).agg(sum(col("tf")).as("ct"))
    val rawTot = feats.agg(sum(col("tf")).as("rtot"))
    val tgtTot = feats.join(isTarget, Seq("doc_id")).agg(sum(col("tf")).as("ttot"))
    val scored = feats
      .join(broadcast(rawC), Seq("b"))
      .join(broadcast(tgtC), Seq("b"), "left")
      .crossJoin(broadcast(rawTot)).crossJoin(broadcast(tgtTot))
      .select(col("doc_id"), col("tf"),
        (log((coalesce(col("ct"), lit(0.0)) + 1.0) / (col("ttot") + buckets)) -
          log((col("cr") + 1.0) / (col("rtot") + buckets))).as("lr"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("long").as("n_feats"),
        (round(sum(col("tf") * col("lr")), 4) + 0.0).as("logw"))
    // global top-N via the bounded-heap aggregate (map-side k-entry
    // partials; a global rank window would funnel every row through one
    // reducer) — ranked on the ROUNDED logw so both engines break the
    // same ties, by doc_id
    val topIds = scored
      .agg(graft.functions.TopKAgg.topKMin(-col("logw"), col("doc_id"), keepN).as("flat"))
      .select(explode(graft.functions.TopKAgg.decodeTopK(col("flat"))).as("e"))
      .select(col("e.j").as("doc_id"), lit(1).as("k1"))
    scored.join(broadcast(topIds), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_feats"), col("logw"),
        coalesce(col("k1"), lit(0)).as("keep"))
  }

  /** Sliding-window token chunking with overlap — the RAG/context-window
    * splitter every training/retrieval pipeline runs before embedding:
    * windows of `window` tokens at stride `stride` (stride < window =>
    * consecutive chunks share window-stride tokens). Start offsets are
    * generated per row with `sequence` + `explode` (map-side lateral view,
    * no shuffle at all — the op is embarrassingly parallel, chunk count
    * scales with corpus tokens not rows). Emits a per-chunk content hash
    * (h32 of the space-joined window) so downstream chunk-level dedup can
    * run on the output directly. */
  def chunkOverlap(docs: DataFrame, window: Int = 64, stride: Int = 48): DataFrame = {
    require(stride > 0 && window >= stride, s"need 0 < stride <= window")
    val toks = tokenize(docs).where(size(col("tokens")) > 0)
    // pure-integer max start: (n-1) - ((n-1) mod stride) — Spark's `/` on
    // longs is DOUBLE division, so the pmod form keeps this exact
    val nm1 = size(col("tokens")).cast("long") - 1L
    toks
      .select(col("doc_id"),
        col("tokens"),
        // starts 0, stride, ... <= floor((n-1)/stride)*stride: the last
        // window always covers the tail, and no start lands past the text
        explode(sequence(lit(0L), nm1 - pmod(nm1, lit(stride.toLong)),
          lit(stride.toLong))).as("start"))
      .select(col("doc_id"),
        // start is a stride multiple, so the double division is exact
        (col("start") / stride).cast("long").as("chunk_id"),
        slice(col("tokens"), (col("start") + 1).cast("int"), lit(window)).as("chunk"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("chunk")).cast("long").as("n_tokens"),
        h32(concat_ws(" ", col("chunk"))).as("chunk_hash"))
  }

  /** Curriculum binning: per-source quality quartiles (ntile over the
    * mean-token-length score). The window is PARTITIONED BY source — each
    * domain sorts independently, so the op parallelizes across sources
    * instead of funneling the corpus through one global sort (the global
    * form of ntile is the classic 100 TB anti-pattern). Ties broken by
    * doc_id so both engines assign identical bins. */
  def curriculumBins(docs: DataFrame, nBins: Int = 4): DataFrame = {
    val q = quality(docs).join(
      docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("mean_tok_len"), col("doc_id"))
    q.select(col("source"), col("n_tokens"), col("mean_tok_len"),
        ntile(nBins).over(w).as("bin"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        (round(avg(col("n_tokens")), 4) + 0.0).as("avg_tokens"),
        round(min(col("mean_tok_len")), 4).as("min_score"),
        round(max(col("mean_tok_len")), 4).as("max_score"))
  }

  /** Deterministic stratified train/test split: assignment is a pure
    * function of (doc_id, source) via the md5-counter hash — stable under
    * repartitioning, re-runs, and engine choice (the property rand()-based
    * splits lack). Stateless per-row map + ONE keyed aggregate; at 100 TB
    * the split itself never shuffles, only the audit rollup does. */
  def stratifiedSplit(docs: DataFrame, testMod: Long = 10L,
      testBelow: Long = 2L): DataFrame = {
    val h = pmod(h32(concat_ws(":", col("doc_id"), col("source"))), lit(testMod))
    docs
      .select(col("source"),
        when(h < testBelow, "test").otherwise("train").as("split"),
        col("n_chars"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"))
  }
}
