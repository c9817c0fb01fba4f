package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, RDDScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards: the perf-critical plan shapes the
  * operators were designed around must not silently degrade. String checks
  * on the executed plan — coarse, but they catch the failure modes that
  * matter (a CartesianProduct sneaking back in, pushdown lost, the window
  * top-k losing its partial/final group-limit, codegen falling out).
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(name: String): String = {
    // other suites share the context and may have persisted subtrees that
    // splice InMemoryRelations into these plans — assert against raw scans
    spark.catalog.clearCache()
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
  }

  test("sp_masked_matmul generates the mask directly — no CartesianProduct") {
    assert(!plan("sp_masked_matmul").contains("CartesianProduct"))
  }

  test("rel_top3_mktsegment keeps the partial+final window group limit") {
    val p = plan("rel_top3_mktsegment")
    assert(p.contains("WindowGroupLimit"), "per-partition top-k heaps lost")
    assert(p.contains("BroadcastHashJoin"), "dim joins must broadcast")
  }

  test("scans push filters and prune columns (mat_slice)") {
    val p = plan("mat_slice")
    assert(p.contains("GreaterThanOrEqual(vec_id,100)") || p.contains(">= 100"),
      s"row predicate not pushed:\n$p")
    assert(!p.contains("label"), "unused column not pruned from the scan")
  }

  test("mat_gemv_native executes as the columnar dot kernel (valid node)") {
    // Under the extended session GraftDotKernelRule intentionally replaces
    // the codegen'd projection with the batch kernel (the row path's WSCG
    // placement is pinned bit-identically by ColumnarSeamSpec's bare-session
    // comparison). The node must be VALID: no `!` missing-input marker,
    // which producedAttributes on GraftDotKernelExec guarantees.
    val p = plan("mat_gemv_native")
    assert(p.contains("GraftDotKernel"), s"batch kernel missing from plan:\n$p")
    assert(!p.contains("!GraftDotKernel"),
      s"kernel node marked invalid (missingInput — producedAttributes lost):\n$p")
  }

  test("sp_laplacian evaluates the co-occurrence subtree once (2 scans = self-join sides)") {
    val p = plan("sp_laplacian")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans <= 2, s"expected ≤2 lineitem scans (one per self-join side), got $scans")
  }

  /** Every plan the body's actions ran, checkpoints included (a
    * checkpoint's own plan is not part of the plan that later reads it).
    * The body runs in its own session, so no other suite's query is caught. */
  private def actionPlans(body: SparkSession => Unit): Seq[(String, SparkPlan)] = {
    val s = spark.newSession()
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlan)]()
    s.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = got.add(f -> qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    body(s)
    // listenerBus is private[spark]; its accessor is public in bytecode
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    got.asScala.toSeq
  }

  private def isEdgeScan(p: SparkPlan) =
    p.isInstanceOf[RDDScanExec] && p.output.map(_.name) == Seq("row", "col", "value")

  /** From an A·X aggregate down its streamed side to the scan it reads. */
  private def streamPath(p: SparkPlan): List[SparkPlan] = p :: (p match {
    case j: BroadcastHashJoinExec => streamPath(if (j.buildSide == BuildRight) j.left else j.right)
    case _ => p.children.toList match {
      case Nil => Nil
      case c :: Nil => streamPath(c)
      case _ => fail(s"A·X path meets a ${p.nodeName}:\n$p")
    }
  })

  /** The spmm core's A·X shape in `plans`: map-only SortAggregates over
    * the checkpointed edges, nothing hash-aggregated on `row`, and only
    * the dense side broadcast. Returns the A·X aggregate count. */
  private def assertAxShape(plans: Seq[SparkPlan]): Int = {
    val ax = plans.flatMap(_.collect { case a: SortAggregateExec => a })
    ax.foreach { a =>
      val path = streamPath(a.child)
      assert(isEdgeScan(path.last), s"A·X does not stream the edge table:\n$a")
      assert(!path.exists(n => n.isInstanceOf[ShuffleExchangeExec] || n.isInstanceOf[SortExec]),
        s"exchange or sort between the edge scan and the A·X aggregate:\n$a")
    }
    plans.foreach { p =>
      p.foreach {
        case h: BaseAggregateExec if !h.isInstanceOf[SortAggregateExec] =>
          assert(!h.groupingExpressions.exists(_.references.exists(_.name == "row")),
            s"hash aggregate keyed on row:\n$h")
        case b: BroadcastExchangeExec =>
          assert(!b.child.output.exists(_.name == "value"), s"the edge table is broadcast:\n$b")
        case _ =>
      }
    }
    ax.length
  }

  test("sp_spmm: map-only sort aggregate, explode after it") {
    val plans = actionPlans(s => SparkEntry.queries("sp_spmm")(s, sf).collect())
    val ps = plans.map(_._2)
    assert(assertAxShape(ps) == 1, plans.mkString("\n"))
    // nothing is exploded before the aggregate: the plan that aggregates
    // has no Generate, and the query's own plan explodes the scan of the
    // checkpointed d-vector rows
    val aggPlan = ps.filter(_.exists(_.isInstanceOf[SortAggregateExec]))
    assert(aggPlan.forall(!_.exists(_.isInstanceOf[GenerateExec])))
    val (_, query) = plans.last
    val gen = query.collect { case g: GenerateExec => g }
    assert(gen.length == 1 && gen.head.exists(_.isInstanceOf[RDDScanExec]), s"$query")
    assert(!query.exists(_.isInstanceOf[BaseAggregateExec]), s"$query")
  }

  test("rsvdSparse: map-only A.X passes, exchange-free merge joins") {
    val ps = actionPlans(s => SparkEntry.queries("solver_rsvd_sparse")(s, sf).collect()).map(_._2)
    // Y = AΩ and Y₂ = AZ
    assert(assertAxShape(ps) == 2)
    // Z = AᵀY and M = Y₂ᵀA: the merge join reads both sides as they are
    val smj = ps.flatMap(_.collect { case j: SortMergeJoinExec => j })
    assert(smj.length == 2, ps.mkString("\n"))
    smj.foreach { j =>
      assert(j.children.exists(_.exists(isEdgeScan)), s"$j")
      assert(!j.exists(n => n.isInstanceOf[ShuffleExchangeExec] || n.isInstanceOf[SortExec]),
        s"exchange or sort under the Aᵀ·X merge join:\n$j")
    }
  }

  test("rel_profile_sketch replaces the Expand with register aggregates") {
    // the sketch profile exists to drop rel_profile's countDistinct Expand
    // (6x row replication into a distinct-keyed shuffle); its plan must be
    // the unpivot + two cascaded keyed aggregates, shuffling registers
    val p = plan("rel_profile_sketch")
    assert(!p.contains("Expand"), s"Expand crept back into the sketch profile:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2, "cascaded aggregates missing")
    // the exact-distinct twin keeps its Expand — the contrast this guards
    assert(plan("rel_profile").contains("Expand"))
  }

  test("LSH bucketing uses literal hyperplane lanes — no per-row md5 draw") {
    // the hyperplane lanes are row-independent driver-side literals; a
    // regression back to the expression draw puts d md5 calls per plane
    // per ROW into the plan (~half the wall time of every LSH query)
    val p = plan("pipe_ann_lsh")
    assert(!p.toLowerCase.contains("md5"),
      s"per-row md5 hyperplane draw is back in the LSH plan:\n${p.take(2000)}")
  }

  test("minhash LSH candidates come from a bucketed equi-join, never all-pairs") {
    // the banding design's whole point: candidate generation must stay a
    // hash/merge join on (band, sig) — a BNLJ or CartesianProduct here is
    // the O(n²) catastrophe the LSH exists to avoid
    val p = plan("pipe_minhash_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"LSH candidate join degraded to all-pairs:\n${p.take(2000)}")
  }

  test("txt_pii_redact is scan + project only: no shuffle, pruned columns") {
    val p = plan("txt_pii_redact")
    assert(!p.contains("Exchange"), s"per-row redaction must not shuffle:\n$p")
    assert(!p.contains("n_chars"), "unused column not pruned from the scan")
  }

  test("dup-ngram fraction joins on the shingle hash — no wide-row explode after shuffle") {
    val p = plan("pipe_dup_ngram_fraction")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"shingle DF join degraded:\n${p.take(2000)}")
    // partial aggregation must run before the exchange (map-side combine)
    val firstAgg = p.indexOf("HashAggregate")
    assert(firstAgg >= 0, "hash aggregation missing")
  }

  test("dbscan pair stage uses the fused l2 kernel, never CartesianProduct") {
    // the query checkpoints the pair table eagerly, so assert on the pair
    // GENERATOR's plan (the stage dbscan actually executes)
    spark.catalog.clearCache()
    val pts = graft.operators.RandomOps.makeBlobs(spark, 100, 8, 5, 42)
      .select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("vec"))
    val p = graft.operators.DistanceOps.epsPairs(pts, 8.0)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), "pair join degenerated")
    assert(p.toLowerCase.contains("arrayl2sq"),
      "fused L2 kernel lost from the eps condition")
  }

  test("keyless interval join becomes an equi-join on bucket, never BNLJ") {
    val p = plan("rel_interval_join_global")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "bucket replication lost — the join degenerated to all-pairs")
    assert(!p.contains("CartesianProduct"))
  }

  test("CMS heavy hitters: sketch cells aggregate BEFORE any join (grid is mergeable)") {
    val p = plan("txt_heavy_hitters")
    // the est lookup joins the (already aggregated) grid to the token
    // table — the token stream itself must never be join input pre-agg
    assert(p.contains("HashAggregate"), "cell aggregation missing")
    assert(!p.contains("CartesianProduct"))
  }

  test("sharded-Lanczos step plans exactly 2 exchanges (edge/basis invariant holds)") {
    // eigshSharded hash-distributes the checkpointed edge table on the
    // contraction key and keeps the basis hash-partitioned+sorted on i, so
    // a step's SpMV-aggregate job must shuffle ONLY at the row-keyed
    // aggregate and the final single-partition reduce. A third exchange
    // means alias-aware partitioning propagation broke (e.g. a projection
    // rewrite hid the alias) and the nnz-sized edge side re-shuffles every
    // step of the driver loop.
    import org.apache.spark.sql.functions._
    import graft.functions.VectorAgg
    val saved = Seq("spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.get(k))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val edges = spark.range(100).select(col("id").as("row"), col("id").as("col"),
          lit(1.0).as("value"))
        .repartition(parts, col("col")).sortWithinPartitions("col")
        .localCheckpoint(true)
      val basis = spark.range(100).select(col("id").as("i"), array(lit(1.0)).as("qs"))
        .repartition(parts, col("i")).sortWithinPartitions("i")
        .localCheckpoint(true)
      val qj = basis.select(col("i").as("col"), element_at(col("qs"), 1).as("x"))
      val w0 = edges.join(qj, Seq("col"))
        .groupBy(col("row").as("i")).agg(sum(col("value") * col("x")).as("w"))
      val step = basis.join(w0, Seq("i"), "left")
        .select(col("i"), col("qs"), coalesce(col("w"), lit(0.0)).as("w"))
        .agg(VectorAgg.axpySum(col("qs"), col("w")).as("c"))
      val p = step.queryExecution.executedPlan.toString
      val exchanges = "Exchange".r.findAllIn(p).length
      assert(exchanges == 2, s"expected 2 exchanges in the step plan, got $exchanges:\n$p")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("graph optimize reads the checkpointed edge list — no per-subtree graph rebuild") {
    val p = plan("pipe_ann_graph_opt")
    // before the localCheckpoint the plan re-derived the kNN-graph build
    // (an all-pairs BNLJ + WindowGroupLimit) once per consuming subtree
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "edge-list checkpoint lost: graph build re-derived per subtree")
  }

  test("pHash near-dup candidates come from a band equi-join, never all-pairs") {
    val p = plan("pipe_mm_phash_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "band bucketing lost: pair stage degenerated to all-pairs")
  }

  test("latest-per-key keeps the window group limit (no full sort per user)") {
    assert(plan("rel_latest_per_key").contains("WindowGroupLimit"))
  }

  test("sorted-neighborhood candidates come from a rank equi-join, never BNLJ") {
    assert(!plan("pipe_dedup_snm").contains("BroadcastNestedLoopJoin"),
      "SNM successor window degenerated to an all-pairs range join")
  }

  test("pipe_embed_neardup pair stage: native dot, cheap conjunct first, no HOF fold") {
    val p = plan("pipe_embed_neardup")
    assert(p.contains("arraydot"), s"pair stage lost the native fused dot:\n$p")
    // the interpreted aggregate(zip_with(...)) fold must never reach the
    // O(n²) join — it belongs to the (checkpointed) normalize stage only
    assert(!p.contains("aggregate(zip_with"),
      s"interpreted HOF fold in the executed pair plan:\n$p")
    // a < b must precede the dot in the join condition: pushed the other
    // way round the dot evaluates for all n² ordered pairs instead of half
    val cond = p.linesIterator.find(_.contains("BroadcastNestedLoopJoin"))
      .getOrElse(fail("no BNLJ in plan"))
    val aLtB = cond.indexOf(" < ")
    val dot = cond.indexOf("arraydot")
    assert(aLtB >= 0 && dot > aLtB, s"dot evaluates before a<b:\n$cond")
  }

  // ------------------------------------------------------------------
  // Fleet-wide single-task-window guard (round-7 VERDICT item #1): an
  // unpartitioned window (Window.orderBy with no partitionBy) plans
  // `Exchange SinglePartition` and moves its ENTIRE input through one
  // task — the scale trap RankUtils exists to avoid. The invariant over
  // every declared query: any unpartitioned Window/WindowGroupLimit must
  // sit above an AGGREGATION (its input is an aggregated, bounded set —
  // the HDR sketch's ≤~700 buckets, BPE's vocab-sized pair counts), never
  // over raw data-sized rows. mat_shift and label_monotonic — the two
  // ops rewritten onto RankUtils this round — are additionally required
  // to have NO unpartitioned window at all.
  // ------------------------------------------------------------------

  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case o => o.children
    }
    p +: kids.flatMap(flatten)
  }

  private def unpartitionedWindows(p: SparkPlan): Seq[SparkPlan] = flatten(p).filter {
    case w: WindowExec => w.partitionSpec.isEmpty
    case w: WindowGroupLimitExec => w.partitionSpec.isEmpty
    case _ => false
  }

  test("no unpartitioned window over un-aggregated input in ANY declared query") {
    spark.catalog.clearCache()
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val exec = fn(spark, sf).queryExecution.executedPlan
      unpartitionedWindows(exec).collect {
        case w if !flatten(w).tail.exists(_.getClass.getSimpleName.contains("Aggregate")) =>
          s"$name: ${w.getClass.getSimpleName} with empty partitionSpec over raw rows"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("batched silhouette pairs come from a block equi-join, never all-pairs") {
    val p = plan("stat_silhouette_batched")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"tiled pair stage degenerated to all-pairs:\n${p.take(2000)}")
  }

  test("mat_shift and label_monotonic have zero unpartitioned windows (RankUtils shape)") {
    spark.catalog.clearCache()
    Seq("mat_shift", "label_monotonic").foreach { name =>
      val exec = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
      assert(unpartitionedWindows(exec).isEmpty,
        s"$name regressed to a single-task global window")
    }
  }
}
