package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Label/identity operations (SURVEY.md §2.7) —
  * reference: cpp/include/raft/label/classlabels.cuh, merge_labels.cuh. */
object LabelOps {

  /** getUniquelabels: sorted distinct labels —
    * reference: label/classlabels.cuh:31. */
  def uniqueLabels(df: DataFrame, labelCol: String): DataFrame =
    df.select(col(labelCol).as("label")).distinct()

  /** make_monotonic: remap labels to dense 0..k-1, order-preserving —
    * reference: label/classlabels.cuh:81. Distributed rank over the
    * distinct label set ([[RankUtils.globalRowNumber]] — rank ==
    * dense_rank on a distinct set): usually the set is tiny, but
    * densifying 1e8 distinct labels through a bare `Window.orderBy`
    * would wall on one task. The rank table broadcasts back when
    * remapping rows.
    */
  def makeMonotonic(df: DataFrame, labelCol: String): DataFrame =
    RankUtils.globalRowNumber(
        df.select(col(labelCol).as("label")).distinct(), Seq(col("label")))
      .select(col("label"), (col("rn") - 1L).as("dense"))

  /** make_monotonic applied to the data ROWS — the reference's primary
    * signature (classlabels.cuh:81 maps the whole input array through
    * the dense rank): the k-row rank table from [[makeMonotonic]]
    * broadcasts back onto the rows, so the remap is a map-side hash
    * join (zero shuffle of the data side at any scale). */
  def makeMonotonicRemap(df: DataFrame, labelCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(labelCol).as("label"))
      .join(broadcast(makeMonotonic(df, labelCol)), Seq("label"))
      .select(col("id"), col("label"), col("dense"))

  /** getOvrlabels: one-vs-rest binarization —
    * reference: label/classlabels.cuh:55. */
  def oneVsRest(df: DataFrame, labelCol: String, idCol: String, cls: Long): DataFrame =
    df.select(col(idCol).as("id"),
      when(col(labelCol) === cls, 1).otherwise(0).as("ovr"))

  /** Connected components by iterative min-label propagation — the
    * merge_labels fixpoint (reference: label/merge_labels.cuh:47, noted
    * "used in connected components"). Each round: every node adopts the min
    * label in its closed neighborhood; converges in O(diameter) rounds.
    * Edges must be symmetric. Caching + local checkpoints keep lineage flat
    * (the iterative-driver pattern of SURVEY.md §4).
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25,
      localThreshold: Long = 1000000L): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(true)
    val nnz = sym.count()
    // size dispatch (the reference's kAuto heuristic, select_k-inl.cuh:38):
    // below ~1e6 edges the per-round job overhead dominates — union-find on
    // the driver gives identical labels (comp = min node id in component).
    // Counts its branch as `cc.tier.local|distributed`.
    if (nnz <= localThreshold) {
      graft.Instrument.inc("cc.tier.local")
      val spark = edges.sparkSession
      val arr = sym.select(col("src").cast("long"), col("dst").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      arr.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb))
          parent(hi) = lo }
      }
      val rows = parent.keys.toSeq.sorted.map(n => (n, find(n)))
      return spark.createDataFrame(rows).toDF("node", "comp")
    }
    graft.Instrument.inc("cc.tier.distributed")
    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("comp", col("node")).localCheckpoint(true)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val neigh = sym.join(labels, sym("dst") === labels("node"))
        .select(sym("src").as("node"), col("comp"))
      val m1 = labels.unionByName(neigh)
        .groupBy(col("node")).agg(min(col("comp")).as("comp"))
      // pointer-jumping (comp := comp[comp]) halves the remaining diameter
      // each round -> O(log n) rounds instead of O(diameter)
      val parent = m1.select(col("node").as("pnode"), col("comp").as("pcomp"))
      val next = m1.join(parent, m1("comp") === col("pnode"), "left")
        .select(m1("node"), coalesce(col("pcomp"), m1("comp")).as("comp"))
        .localCheckpoint(true) // truncate lineage across iterations
      changed = next.join(labels.withColumnRenamed("comp", "old"), Seq("node"))
        .where(col("comp") =!= col("old")).count()
      labels = next
      iter += 1
    }
    labels
  }
}
