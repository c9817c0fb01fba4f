package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => Sessions}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{SolverOps, SparseOps}

/** Session confs: the correctness gate and the benchmark resolve the same
  * SQL confs, and the sparse × dense core leaves its caller's confs as it
  * found them. */
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
}
