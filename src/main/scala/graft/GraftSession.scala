package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory for the engine (the `RaftSession` of
  * SURVEY.md §7): AQE on, shuffle partitions sized to cores (not 200),
  * UTC, nanos-tolerant parquet reads. Local by default; pass a cluster
  * master in deployment.
  */
object GraftSession {
  def create(cores: Int = 32, appName: String = "graft",
      master: String = ""): SparkSession = {
    val m = if (master.nonEmpty) master else s"local[$cores]"
    val spark = SparkSession.builder()
      .master(m)
      .appName(appName)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // ObjectHashAggregate (every object-buffer aggregate: TopKAgg,
      // VectorAgg, HLL) falls back to SORTING its remaining input after 128
      // distinct keys per partition — the default turns the LAP kernel's
      // 1e8-row top-T scan into a 1e8-row sort. 2e5 keys × (2k+1) doubles
      // ≈ 50 MB/partition worst case at k=16: memory-sane on any executor
      // sized for 100 MB–1 GB partitions, and scale-independent (state is
      // keys × k, not data-sized).
      // CAVEAT (ADVICE r14): the sizing argument covers small fixed
      // per-key state. Aggregates with array-valued per-key state
      // (VectorAgg vectorSum / axpySum keyed by a wide domain, d-length
      // arrays per key) can hold 2e5 keys × d doubles before spilling: at
      // d=64 that is ~100 MB/partition. The SparseOps spmm core's A·X
      // holds one key at a time (a sort aggregate over row-sorted edges);
      // its shuffled leg, past the broadcast bound, still has this shape.
      // Executors smaller than that should lower SPARK_GRAFT_OBJ_AGG_KEYS
      // (the spill fallback stays correct, just sorted — this knob trades
      // memory for never-sort).
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        sys.env.getOrElse("SPARK_GRAFT_OBJ_AGG_KEYS", "200000"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The session of the driver mains (Verify, Bench, Explain): [[create]]
    * at `SPARK_GRAFT_CPUS` cores, or the JVM's processor count when that is
    * unset, so the correctness gate and the benchmark resolve the same
    * confs. */
  def forMain(appName: String): SparkSession = create(
    cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors),
    appName = appName)

  /** Scoped session-conf override: save, set, run, restore. Session-global
    * while the body runs (a concurrent query on the SAME session sees the
    * override — the driver-loop solvers assume the single-threaded session
    * the harness provides). */
  def withConfs[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** The session confs of the engine's partition-aligned cores (the
    * sparse × dense core in `SparseOps`, the cosine core in `TextOps`),
    * set for `body` and restored after it ([[withConfs]]):
    *  - AQE off, which both cores rely on: a checkpoint taken with AQE on
    *    loses its partitioning (it reports `UnknownPartitioning`). The
    *    cosine core relies on nothing else here: it checkpoints its unit
    *    vectors with an explicit width, the session's own.
    *  - shuffle width `parts`, for the spmm core: the width of its
    *    `SparseOps.rowSorted` edges, so every exchange of its passes lines
    *    up with them (and per-pass re-planning, off with AQE, would only
    *    be latency at that already-chosen width);
    *  - `replaceHashWithSortAgg` on, for the spmm core: Spark's
    *    ReplaceHashWithSortAgg rule then plans the `SparseOps.spmmA`
    *    aggregate, whose input is already partitioned and sorted by the
    *    output key, as one Complete-mode SortAggregate — map-only, with no
    *    exchange and no hash map. It leaves every aggregate whose input is
    *    not sorted by its keys alone, so it changes no cosine plan.
    * Confs apply where a plan is made, so every DataFrame built in the
    * scope must be run or checkpointed before it ends. */
  private[graft] def withCoreScope[T](spark: SparkSession, parts: Int)(body: => T): T =
    withConfs(spark,
      "spark.sql.shuffle.partitions" -> parts.toString,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.execution.replaceHashWithSortAgg" -> "true")(body)

  /** Standard knob set for an iterative driver loop over ~`rows` rows:
    * shuffle width tracks the data (a 500-row fixture must not schedule
    * 32-task waves per step), AQE off (per-step re-planning is pure
    * latency at an already-chosen width), and — below the fixture
    * threshold — interpreted execution: each step's plan embeds fresh
    * literals/lane counts, so generated classes never get cache hits and
    * the janino compile IS the per-job cost until per-step row work
    * reaches tens of millions of lane-ops (measured on the n=1e5 sharded
    * Lanczos fixture: 34 s with codegen, 19 s interpreted). At real scale
    * (rows > ~2M) codegen stays on and only the width/AQE knobs apply. */
  def withLoopKnobs[T](spark: SparkSession, rows: Long)(body: => T): T = {
    val parts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, rows / 25000L)).toInt
    val confs = Seq(
      "spark.sql.shuffle.partitions" -> parts.toString,
      "spark.sql.adaptive.enabled" -> "false") ++
      (if (rows <= 2000000L) Seq(
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") else Seq.empty)
    withConfs(spark, confs: _*)(body)
  }
}
