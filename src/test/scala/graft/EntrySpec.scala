package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    // same extensions the gates run (Bench/Verify/Explain): specs must
    // exercise the session users get, fused kernels included
    .withExtensions(new graft.plans.GraftExtensions)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  val sf: String = "/root/testdata/sf0.001"

  /** Sets `confs` on `s` for `body` and restores them after it, also when
    * it throws: how a spec runs one case under several conf sets. */
  def withConfs[T](s: SparkSession, confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> s.conf.get(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach { case (k, v) => s.conf.set(k, v) }
  }

  /** Local mirror of TextOps.h32 (first 8 md5 hex chars as a long) for
    * golden-value fixtures that must replay the counter-hash off-Spark. */
  def md5h32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
  }
}

/** Smoke-level contract tests: every declared query runs and returns a
  * deterministic, non-degenerate result on sf0.001. Numeric parity vs the
  * DuckDB oracle is checked by scripts/check.py (mirrors the driver gate).
  */
class EntrySpec extends AnyFunSuite {
  import TestSpark._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("exact quantiles at q=0 and q=1 return the exact min/max") {
    import org.apache.spark.sql.functions._
    val r = graft.operators.StatsOps.quantiles(spark, sf, Seq(0.0, 1.0))
      .collect().map(x => x.getInt(0) -> x.getDouble(1)).toMap
    val mm = graft.Tables.lineitem(spark, sf)
      .agg(min(col("l_extendedprice")), max(col("l_extendedprice"))).head()
    assert(r(0) == BigDecimal(mm.getDouble(0)).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r(1) == BigDecimal(mm.getDouble(1)).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("sort-based exact quantiles agree with the percentile aggregate") {
    import org.apache.spark.sql.functions._
    val qs = Seq(0.25, 0.5, 0.75, 0.95)
    val ours = graft.operators.StatsOps.quantiles(spark, sf, qs)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val ref = graft.Tables.lineitem(spark, sf)
      .agg(percentile(col("l_extendedprice"), array(qs.map(lit(_)): _*)).as("p"))
      .select(explode(col("p"))).collect().map(_.getDouble(0))
    qs.indices.foreach { i =>
      assert(math.abs(ours(i) - ref(i)) < 5e-5,
        s"q=${qs(i)}: ${ours(i)} vs percentile ${ref(i)}")
    }
  }

  test("quantile sketch brackets every exact quantile within its bucket width") {
    import org.apache.spark.sql.functions._
    val li = graft.Tables.lineitem(spark, sf)
      .where(col("l_extendedprice").isNotNull)
      .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v"))
    val got = graft.operators.StatsOps.quantileSketch(li).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 4)
    val vals = li.collect().map(_.getLong(0)).sorted
    got.foreach { case (q, rank, est) =>
      val exact = vals(rank.toInt - 1) // the sketch's own ceil-rank target
      // est is the LOWER BOUND of the bucket holding the rank-th value;
      // bucket width = lo/(m+32) <= lo/32, so the bracket is tight
      assert(est <= exact, s"q=$q: est $est above exact $exact")
      assert(exact - est <= math.max(1L, est / 32L),
        s"q=$q: exact $exact beyond bucket width of est $est")
    }
  }

  test("axpySum equals vectorSum of the per-row scaled array") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = (1 to 257).map(i =>
        (Array.tabulate(7)(j => (i * 7 + j) * 0.37 - 3.1), i * 0.01 - 1.0))
      .toDF("v", "w").repartition(3).localCheckpoint(true)
    val fused = df.agg(graft.functions.VectorAgg.axpySum(col("v"), col("w")))
      .head().getSeq[Double](0)
    val ref = df.agg(graft.functions.VectorAgg.vectorSum(
        graft.functions.ArrayMath.scale(col("v"), col("w"))))
      .head().getSeq[Double](0)
    assert(fused.length == 7)
    fused.zip(ref).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)),
        s"$a vs $b")
    }
  }

  test("every query key has distinct non-null schema and runs on sf0.001") {
    val qs = SparkEntry.queries
    assert(qs.nonEmpty)
    qs.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name has no columns")
      assert(df.columns.distinct.length == df.columns.length, s"$name repeated column names")
      df.count() // must execute without throwing
    }
  }

  test("oracle keys are a subset of query keys") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracleSql without query: $extra")
  }

  test("no query-key collisions across groups (map merge would silently drop)") {
    val groups = Seq(
      graft.queries.MatrixQueries.q, graft.queries.SparseTextQueries.q,
      graft.queries.StatsQueries.q, graft.queries.RandomLabelQueries.q,
      graft.queries.PipelineQueries.q, graft.queries.SolverQueries.q,
      graft.queries.DistanceQueries.q)
    val groupTotal = groups.map(_.size).sum
    val merged = groups.map(_.keySet).reduce(_ ++ _).size
    assert(groupTotal == merged, "duplicate query keys across groups")
    // and the relational group (defined in SparkEntry) must not collide either
    assert(SparkEntry.queries.size ==
      merged + (SparkEntry.queries.keySet -- groups.map(_.keySet).reduce(_ ++ _)).size)
  }

  test("top3 per segment has exactly <=3 rows per segment, ranked") {
    val rows = SparkEntry.queries("rel_top3_mktsegment")(spark, sf).collect()
    val bySeg = rows.groupBy(_.getString(0))
    assert(bySeg.values.forall(_.length <= 3))
    assert(rows.forall(_.getInt(3) <= 3))
  }

  test("approx_count_distinct is within 5% of exact") {
    SparkEntry.queries("rel_approx_distinct")(spark, sf).collect().foreach { r =>
      val approx = r.getLong(1).toDouble
      val exact = r.getLong(2).toDouble
      assert(math.abs(approx - exact) / exact < 0.05,
        s"${r.getString(0)}: approx $approx vs exact $exact")
    }
  }

  test("queries are deterministic across re-execution") {
    val df1 = SparkEntry.queries("rel_pricing_summary")(spark, sf).collect().map(_.toString).sorted
    val df2 = SparkEntry.queries("rel_pricing_summary")(spark, sf).collect().map(_.toString).sorted
    assert(df1.sameElements(df2))
  }

  test("chi-squared: 0 on an independent table, n (and V=1) on a diagonal one") {
    import spark.implicits._
    val indep = Seq((0L, 0L, 10L), (0L, 1L, 30L), (1L, 0L, 20L), (1L, 1L, 60L))
      .toDF("truth", "pred", "cnt")
    val r1 = graft.operators.StatsOps.chiSquaredFrom(indep).head()
    assert(r1.getDouble(0) == 0.0 && r1.getDouble(2) == 0.0, s"independent: $r1")
    assert(r1.getLong(1) == 1L, s"dof 2x2: $r1")
    val diag = Seq((0L, 0L, 7L), (1L, 1L, 13L)).toDF("truth", "pred", "cnt")
    val r2 = graft.operators.StatsOps.chiSquaredFrom(diag).head()
    assert(r2.getDouble(0) == 20.0, s"perfect dependence: chi2 = n: $r2")
    assert(r2.getDouble(2) == 1.0, s"Cramer's V = 1: $r2")
  }

  test("KS test: closed-form D on a hand ECDF pair; D=0 and p=1 on identical samples") {
    import spark.implicits._
    // F1 over {1,2,3}, F2 over {3,4,5,6}: sup diff = 3/4 at v=3
    val df = (Seq(1, 2, 3).map((_, true)) ++ Seq(3, 4, 5, 6).map((_, false)))
      .toDF("v", "g")
    val r = graft.operators.StatsOps.ksTest(df, "v", org.apache.spark.sql.functions.col("g")).head()
    assert(r.getLong(0) == 3L && r.getLong(1) == 4L, s"n1, n2: $r")
    assert(r.getDouble(2) == 0.75, s"D = 3/4: $r")
    val same = (Seq(1, 2, 3).map((_, true)) ++ Seq(1, 2, 3).map((_, false)))
      .toDF("v", "g")
    val r2 = graft.operators.StatsOps.ksTest(same, "v", org.apache.spark.sql.functions.col("g")).head()
    assert(r2.getDouble(2) == 0.0 && r2.getDouble(4) == 1.0,
      s"identical: D=0, p clamped to 1: $r2")
  }

  test("PSI: 0 on identical halves, ln(3)/3 on a total two-bin shift") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    def ev(rows: Seq[(Long, Double)]) = rows.toDF("us", "value")
      .select(timestamp_micros(col("us")).as("ts"), col("value"))
    // ref (us<=5.5e6): both bins hit once; cur: same -> all shares equal
    val same = ev(Seq(0L -> 10.0, 1000000L -> 460.0,
      10000000L -> 10.0, 11000000L -> 460.0))
    val r0 = graft.operators.StatsOps.psi(same, "value", "ts", 0.0, 50.0, 10).head()
    assert(r0.getLong(0) == 2L && r0.getLong(1) == 2L && r0.getDouble(2) == 0.0, s"$r0")
    // ref entirely bin 0, cur entirely bin 9:
    // psi = 2 * (3/12 - 1/12) * ln 3 = ln(3)/3 = 0.366204
    val shift = ev(Seq(0L -> 10.0, 1000000L -> 10.0,
      10000000L -> 460.0, 11000000L -> 460.0))
    val r1 = graft.operators.StatsOps.psi(shift, "value", "ts", 0.0, 50.0, 10).head()
    assert(r1.getDouble(2) == 0.366204, s"two-bin shift: $r1")
  }

  test("Welch t-test: hand-computed t, Satterthwaite df and Cohen's d") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // g1={1,2,3}: mean 2, var 1; g2={2,4,6}: mean 4, var 4
    // t = -2/sqrt(5/3), df = 50/17, d = -2/sqrt(2.5)
    val df = (Seq(1, 2, 3).map((_, true)) ++ Seq(2, 4, 6).map((_, false)))
      .toDF("v", "g")
    val r = graft.operators.StatsOps.welchTTest(df, "v", col("g")).head()
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L, s"$r")
    assert(r.getDouble(2) == -1.549193, s"t: $r")
    assert(r.getDouble(3) == 2.9412, s"df: $r")
    assert(r.getDouble(4) == -1.264911, s"cohens_d: $r")
  }

  test("Mann-Whitney U: hand-computed tie correction and the no-overlap extreme") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // g1={1,1}, g2={1,2}: avg ranks 2,2,2,4 -> U1=1, U2=3, sigma^2=1, z=-1
    val tied = (Seq(1, 1).map((_, true)) ++ Seq(1, 2).map((_, false))).toDF("v", "g")
    val r = graft.operators.StatsOps.mannWhitneyU(tied, "v", col("g")).head()
    assert(r.getDouble(2) == 1.0 && r.getDouble(3) == 3.0, s"U1=1, U2=3: $r")
    assert(r.getDouble(4) == -1.0, s"tie-corrected z=-1: $r")
    // disjoint g1 below g2: U1 = 0 (every g2 value beats every g1 value)
    val apart = (Seq(1, 2, 3).map((_, true)) ++ Seq(4, 5, 6).map((_, false))).toDF("v", "g")
    val r2 = graft.operators.StatsOps.mannWhitneyU(apart, "v", col("g")).head()
    assert(r2.getDouble(2) == 0.0 && r2.getDouble(3) == 9.0, s"U1=0, U2=9: $r2")
    assert(r2.getDouble(4) == -1.963961, s"z on 3v3 no ties: $r2")
  }
}
