package graft

import org.apache.spark.sql.SparkSession

/** The execution policy of every driver loop and partition-aligned core
  * (the `raft::resources` handle of SURVEY.md: no primitive picks its own
  * width or planner settings). A scope is described by properties of its
  * call site, not by options:
  *  - `rows`: the rows the loop's exchanges carry, or None to keep the
  *    session's own `spark.sql.shuffle.partitions`;
  *  - `lanes`: the per-row width of its work (array lanes per row);
  *  - `stepped`: whether each step plans fresh literals.
  *
  * One rule, applied for the scope's body and restored after it, also
  * when the body throws:
  *  - width = clamp(rows·lanes / [[RowsPerPart]], 1, `defaultParallelism`).
  *    A 500-row fixture must not schedule a full-width task wave per step,
  *    and a cluster-size input keeps full width. Work counts by cells, not
  *    rows: the eigsh step is lanes-wide array math per row, and sizing it
  *    by rows alone undersized it 8× at n = 1e5 (4 partitions ≈ 650 ms per
  *    step against 300–430 ms at 25–32; 1 partition 2.3× worse, so it is
  *    row work, not scheduling).
  *  - AQE off. Re-planning every exchange stage by stage is pure latency
  *    at an already-chosen width: about 30% of the wall time of the n = 30
  *    Lanczos fixture, and 1.3 s against 0.6 s per keyed LAP round at
  *    n = 1e4. A checkpoint taken with AQE on also loses its partitioning
  *    (it reports `UnknownPartitioning`), which the sparse × dense and
  *    cosine cores rely on.
  *  - `replaceHashWithSortAgg` on: Spark's ReplaceHashWithSortAgg rule then
  *    plans an aggregate whose input is already partitioned and sorted by
  *    its keys (the `SparseOps.spmmA` fold over row-sorted edges) as one
  *    map-only SortAggregate, with no exchange and no hash map. It leaves
  *    every aggregate whose input is not sorted on its keys alone.
  *  - interpreted execution (`wholeStage` off, `NO_CODEGEN`) when `stepped`
  *    and rows ≤ [[InterpretedRows]]: a step whose plan embeds fresh
  *    literals never reuses a generated class, so the janino compile is
  *    the per-job cost until per-step row work reaches tens of millions of
  *    lane-ops (the n = 1e5 sharded Lanczos fixture: 34 s with codegen,
  *    19 s interpreted). Otherwise the codegen confs are left as found.
  *
  * The confs are session-global while the body runs: the engine runs one
  * query at a time per session. They apply where a plan is made, so every
  * DataFrame built in the scope must be run or checkpointed before it
  * ends. Each scope counts `loop.scopes`, `loop.parts` (the sum of the
  * widths) and, when interpreted, `loop.interpreted` in [[Instrument]].
  */
object LoopPolicy {
  /** Rows × lanes of work per shuffle partition. */
  private val RowsPerPart = 25000L

  /** The largest stepped loop that runs interpreted. */
  private val InterpretedRows = 2000000L

  /** The shuffle width of a scope over `rows` × `lanes`; the session's own
    * width when unsized. */
  private def width(spark: SparkSession, rows: Option[Long], lanes: Int): Int = rows match {
    case Some(r) => math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, r * lanes / RowsPerPart)).toInt
    case None => spark.conf.get("spark.sql.shuffle.partitions").toInt
  }

  private def interpreted(rows: Option[Long], stepped: Boolean): Boolean =
    stepped && rows.exists(_ <= InterpretedRows)

  /** Runs `body` with the scope's width under the policy's confs, and
    * restores the session's confs after it. */
  def scope[T](spark: SparkSession, rows: Option[Long], lanes: Int = 1,
      stepped: Boolean)(body: Int => T): T = {
    val parts = width(spark, rows, lanes)
    val interp = interpreted(rows, stepped)
    Instrument.inc("loop.scopes")
    Instrument.inc("loop.parts", parts)
    if (interp) Instrument.inc("loop.interpreted")
    val confs = Seq(
      "spark.sql.shuffle.partitions" -> parts.toString,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.execution.replaceHashWithSortAgg" -> "true") ++
      (if (interp) Seq(
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") else Nil)
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body(parts) finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
