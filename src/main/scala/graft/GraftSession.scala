package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory for the engine (the `RaftSession` of
  * SURVEY.md §7): AQE on, shuffle partitions sized to cores (not 200),
  * UTC, nanos-tolerant parquet reads. Local by default; pass a cluster
  * master, and its executor settings as `deploy`, in deployment. Loops and
  * cores change confs only inside a [[LoopPolicy]] scope.
  */
object GraftSession {
  def create(cores: Int = 32, appName: String = "graft",
      master: String = "", deploy: Seq[(String, String)] = Nil): SparkSession = {
    val m = if (master.nonEmpty) master else s"local[$cores]"
    val spark = deploy.foldLeft(SparkSession.builder())((b, kv) => b.config(kv._1, kv._2))
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
      // The threshold is a constant: a deployment whose executors cannot
      // hold that much needs a lower value here (the sort fallback stays
      // correct, just sorted; the threshold trades memory for never
      // sorting).
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "200000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The session of the driver mains (Verify, Bench, Explain, ScaleProbe):
    * [[create]] at `SPARK_GRAFT_CPUS` cores, or the JVM's processor count
    * when that is unset, so the correctness gate, the benchmark and the
    * scale probes resolve the same confs. */
  def forMain(appName: String, master: String = "",
      deploy: Seq[(String, String)] = Nil): SparkSession =
    create(mainCores, appName, master, deploy)

  /** The core count of [[forMain]]. */
  def mainCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)
}
