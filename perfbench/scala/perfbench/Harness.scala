package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.{GraftSession, Instrument, SparkEntry}
import graft.operators.Relational

/** Benchmark JVM: runs a fixed list of passes over `SparkEntry.queries`, one
  * query at a time (a closed loop with one client), and writes every raw
  * measurement as one JSON document. `run.py` turns that into metrics.
  *
  * Arguments (all `--key value`):
  *  - `data`     directory of the input parquet tables
  *  - `order`    file with one pass per line, comma-separated query names
  *  - `warmup`   number of leading passes run untimed
  *  - `expected` file of `name<TAB>fingerprint` lines (`__warmup__` included)
  *  - `seconds`  timed passes run while the measured time is more than half
  *               a pass short of this many seconds
  *  - `budget`   no new pass starts once one more would end past this many
  *               seconds after JVM start
  *  - `trace`    1: alternate untraced and traced passes (listeners on)
  *  - `setups`   number of session set-ups; the first counts from JVM start
  *  - `cores`    `local[cores]`
  *  - `out`      result file, written atomically
  *
  * `--fingerprint-dir <dir>` instead prints `name<TAB>fingerprint` for every
  * query output stored as parquet under `<dir>/<name>`.
  */
object Harness {
  /** Epoch nanoseconds with nanoTime resolution, on Spark's wall clock. */
  private val epochBaseNs = System.currentTimeMillis() * 1000000L
  private val nanoBase = System.nanoTime()
  def now(): Long = epochBaseNs + (System.nanoTime() - nanoBase)

  final case class Span(id: String, parent: String, name: String, start: Long, end: Long)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opts.get("fingerprint-dir") match {
      case Some(dir) => fingerprintDir(opts("cores").toInt, dir)
      case None => run(opts)
    }
  }

  /** Live heap after a full collection. */
  private def liveHeapBytes(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  private def run(opts: Map[String, String]): Unit = {
    val data = opts("data")
    val cores = opts("cores").toInt
    val seconds = opts("seconds").toDouble
    val budget = opts("budget").toDouble
    val traced = opts("trace") == "1"
    val setups = opts("setups").toInt
    val warmup = opts("warmup").toInt
    val passes = Files.readAllLines(Paths.get(opts("order"))).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty).map(_.split(",").toSeq)
    val expected = Files.readAllLines(Paths.get(opts("expected"))).asScala
      .map(_.split("\t")).collect { case Array(k, v) => k -> v }.toMap
    val queries = SparkEntry.queries
    val unknown = passes.flatten.distinct.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    val spans = mutable.ArrayBuffer.empty[Span]
    def span[T](id: String, parent: String, name: String)(body: => T): T = {
      val t0 = now()
      try body finally spans += Span(id, parent, name, t0, now())
    }

    // set-up: session + the SparkEntry.entry warm-up query, on the bench data
    var spark: SparkSession = null
    val setupRows = (1 to setups).map { i =>
      val t0 = if (i == 1) jvmStart else now()
      if (spark != null) spark.stop()
      val c0 = now()
      spark = GraftSession.create(cores = cores, appName = "perfbench")
      val c1 = now()
      val fp = Fingerprint.of(Relational.top3PerMktsegment(spark, data))
      val t1 = now()
      spans += Span(s"setup$i", "run", "setup", t0, t1)
      spans += Span(s"setup$i.create", s"setup$i", "session.create", c0, c1)
      require(expected.get("__warmup__").forall(_ == fp), s"warm-up fingerprint $fp")
      Map("total_s" -> (t1 - t0) / 1e9, "create_s" -> (c1 - c0) / 1e9)
    }
    val sc = spark.sparkContext
    val confs = Seq("spark.master", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      "spark.sql.codegen.wholeStage", "spark.sql.ansi.enabled", "spark.sql.session.timeZone")
      .map(k => k -> spark.conf.getOption(k).orElse(sc.getConf.getOption(k)).getOrElse("")).toMap

    val trace = new Trace
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    var heapPeak = 0L
    val queryRows = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passRows = mutable.ArrayBuffer.empty[Map[String, Any]]
    var measured = 0.0
    var p = 0
    // every run times at least one pass, and a traced run one of each kind
    val minPasses = warmup + (if (traced) 2 else 1)
    def more: Boolean = {
      val last = passRows.lastOption.map(_("wall_s").asInstanceOf[Double]).getOrElse(0.0)
      val elapsed = (now() - jvmStart) / 1e9
      p < passes.size && (p < minPasses || (measured + last / 2 < seconds && elapsed + last < budget))
    }
    while (more) {
      // traced runs alternate untraced and traced timed passes
      val on = traced && p >= warmup && (p - warmup) % 2 == 1
      if (on) { sc.addSparkListener(trace); spark.listenerManager.register(trace) }
      val pid = s"p$p"
      var paused = 0L
      val t0 = now()
      passes(p).zipWithIndex.foreach { case (name, i) =>
        val qid = s"$pid.q$i"
        Instrument.reset()
        val cg0 = compiles.getCount
        var fp: String = null
        var error: String = null
        val q0 = now()
        var q1 = q0
        try {
          sc.setLocalProperty("perfbench.span", s"$qid.build")
          val df = span(s"$qid.build", qid, "queries.build")(queries(name)(spark, data))
          q1 = now()
          sc.setLocalProperty("perfbench.span", s"$qid.action")
          fp = span(s"$qid.action", qid, "action")(Fingerprint.of(df))
        } catch { case NonFatal(e) => error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
        val q2 = now()
        sc.setLocalProperty("perfbench.span", null)
        spans += Span(qid, pid, s"query:$name", q0, q2)
        val cg = compiles.getCount - cg0
        val ops = Instrument.snapshot()
        // the query's cached state is still live here; the collection is
        // left out of the pass time
        val g0 = now()
        heapPeak = math.max(heapPeak, liveHeapBytes())
        spark.catalog.clearCache() // isolate per-query cached state, as Verify does
        paused += now() - g0
        queryRows += Map("pass" -> p, "name" -> name, "span" -> qid, "start_ns" -> q0,
          "build_s" -> (q1 - q0) / 1e9, "action_s" -> (q2 - q1) / 1e9, "wall_s" -> (q2 - q0) / 1e9,
          "fingerprint" -> fp, "error" -> error,
          "ok" -> (error == null && expected.get(name).contains(fp)),
          "codegen_compiles" -> cg,
          "codegen_mean_ms" -> (if (cg > 0) compiles.getSnapshot.getMean else 0.0),
          "operators" -> ops)
      }
      val t1 = now()
      spans += Span(pid, "run", "pass", t0, t1)
      if (on) {
        org.apache.spark.PerfbenchBus.drain(sc)
        sc.removeSparkListener(trace)
        spark.listenerManager.unregister(trace)
      }
      val wall = (t1 - t0 - paused) / 1e9
      passRows += Map("index" -> p, "timed" -> (p >= warmup), "traced" -> on, "wall_s" -> wall)
      if (p >= warmup) measured += wall
      p += 1
    }
    spans += Span("run", "", "run", jvmStart, now())
    spark.stop()

    val doc = Map(
      "cores" -> cores, "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
      "confs" -> confs, "setups" -> setupRows, "passes" -> passRows.toSeq,
      "queries" -> queryRows.toSeq, "heap_peak_mb" -> heapPeak / 1048576.0,
      "spans" -> (if (traced) spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end)) else Seq.empty),
      "trace" -> (if (!traced) Map.empty else Map(
        "counters" -> trace.counters.map { case (k, v) => k -> v.toMap }.toMap,
        "jobs" -> trace.jobs.toSeq.map { case (id, sp, a, b) =>
          Map("id" -> id, "span" -> sp, "start_ms" -> a, "end_ms" -> b) },
        "actions" -> trace.actions.toSeq.map { case (f, t) => Map("func" -> f, "at_ms" -> t) },
        "phases" -> trace.phases.toSeq.map { case (ph, a, b) =>
          Map("phase" -> ph, "start_ms" -> a, "end_ms" -> b) })))
    writeAtomically(opts("out"), Json(doc))
  }

  private def fingerprintDir(cores: Int, dir: String): Unit = {
    val spark = GraftSession.create(cores = cores, appName = "perfbench-record")
    Files.list(Paths.get(dir)).iterator.asScala.filter(Files.isDirectory(_)).toSeq
      .map(_.getFileName.toString).sorted.foreach { name =>
        println(s"$name\t${Fingerprint.of(spark.read.parquet(s"$dir/$name"))}")
      }
    spark.stop()
  }

  def writeAtomically(path: String, text: String): Unit = {
    val target = Paths.get(path)
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.writeString(tmp, text)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }
}

/** Minimal JSON encoder for the harness's maps, sequences and scalars. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
