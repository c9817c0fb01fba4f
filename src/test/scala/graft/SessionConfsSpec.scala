package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => Sessions}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{SolverOps, SparseOps, TextOps}

/** Session confs: the correctness gate, the benchmark and the scale probes
  * resolve the same SQL confs, and the sparse × dense, Lanczos and cosine
  * cores leave their caller's confs as they found them. */
class SessionConfsSpec extends AnyFunSuite {
  import TestSpark._

  /** The `spark.sql.*` confs of a session built by `build` as a driver main
    * builds it: with no active or default session, so the builder makes a
    * new session on the running context instead of returning (and
    * reconfiguring) the shared test session, which is restored after. The
    * session registry is the classic companion's; the API companion keeps
    * its own. */
  private def resolved(build: => SparkSession): Map[String, String] = Sessions.synchronized {
    val shared = spark // made first, so the builder below cannot return it as new
    val active = Sessions.getActiveSession
    val default = Sessions.getDefaultSession
    Sessions.clearActiveSession()
    Sessions.clearDefaultSession()
    try {
      val s = build
      assert(!(s eq shared), "the builder returned the shared test session")
      s.conf.getAll.filter(_._1.startsWith("spark.sql.")).toMap
    } finally {
      default.fold(Sessions.clearDefaultSession())(Sessions.setDefaultSession)
      active.fold(Sessions.clearActiveSession())(Sessions.setActiveSession)
    }
  }

  test("Verify and Bench sessions resolve identical spark.sql confs") {
    val verify = resolved(Verify.session())
    val bench = resolved(Bench.session())
    assert(verify == bench)
    // the scale probes too (their local-cluster executor settings are not
    // SQL confs)
    assert(resolved(ScaleProbe.session()) == verify)
    val cores = sys.env.get("SPARK_GRAFT_CPUS").getOrElse(
      Runtime.getRuntime.availableProcessors.toString)
    assert(verify.get("spark.sql.shuffle.partitions").contains(cores))
    assert(verify.contains("spark.sql.objectHashAggregate.sortBased.fallbackThreshold"))
    assert(verify.get("spark.sql.adaptive.enabled").contains("true"))
  }

  test("rsvdSparse and SparseOps.spmm leave the caller's confs as they were") {
    val s = spark.newSession()
    val watched = Seq(
      "spark.sql.execution.replaceHashWithSortAgg" -> "false",
      "spark.sql.shuffle.partitions" -> "7",
      "spark.sql.adaptive.enabled" -> "true")
    watched.foreach { case (k, v) => s.conf.set(k, v) }
    def confs = watched.map { case (k, _) => k -> s.conf.get(k) }
    val coo = s.range(300).select((col("id") % 40).as("row"), (col("id") % 13).as("col"),
      (col("id") % 5 + 1).cast("double").as("value"))
    assert(SolverOps.rsvdSparse(coo, 2, p = 2).length == 2)
    assert(confs == watched)
    val b = s.range(13).select(col("id"), array(col("id").cast("double"), lit(1.0)).as("vec"))
    val out = SparseOps.spmm(coo, b)
    assert(confs == watched)
    assert(out.count() == 40L * 2)
    assert(confs == watched)
  }

  test("eigshSharded leaves the caller's confs as they were; its vectors are a checkpoint") {
    val s = spark.newSession()
    val watched = Seq(
      "spark.sql.shuffle.partitions" -> "7",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "10485760",
      "spark.sql.codegen.wholeStage" -> "true")
    watched.foreach { case (k, v) => s.conf.set(k, v) }
    def confs = watched.map { case (k, _) => k -> s.conf.get(k) }
    val coo = graft.queries.SolverQueries.chainLaplacian(s, 8)
    val (vals, vecs) = SolverOps.eigshSharded(coo, 8, 2, m = 12)
    assert(confs == watched)
    assert(math.abs(vals.head) < 1e-9, vals)
    // planned inside the loop's scope: the caller gets a leaf, not a plan
    // that would be made at the caller's confs
    assert(vecs.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      vecs.queryExecution.analyzed)
    assert(vecs.count() == 8L)
    assert(confs == watched)
  }

  test("cosineJoin leaves the caller's confs as they were") {
    val s = spark.newSession()
    val watched = Seq(
      "spark.sql.shuffle.partitions" -> "7",
      "spark.sql.adaptive.enabled" -> "true")
    watched.foreach { case (k, v) => s.conf.set(k, v) }
    def confs = watched.map { case (k, _) => k -> s.conf.get(k) }
    import s.implicits._
    val docs = Seq("alpha alpha beta beta", "alpha alpha beta beta gamma gamma",
        "delta delta eps eps").zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    for (evalPred <- Seq(None, Some(col("doc_id") === 0L));
         path <- Seq(TextOps.CosinePath.Brute, TextOps.CosinePath.Prefix)) {
      val out = TextOps.cosineJoin(docs, 0.5, evalPred, path)
      assert(confs == watched)
      assert(out.count() == 1L, s"eval=$evalPred $path")
      assert(confs == watched)
    }
  }
}
