package graft

/** Benchmark main (driver contract): runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * Configs mirror the 100 TB design defaults: AQE on (runtime re-plan,
  * skew handling), shuffle partitions sized to cores (not 200).
  *
  * Archived numbers are per-query MEDIANS over SPARK_GRAFT_REPS complete
  * suite passes (default 3) — the outlier-discard rule: one contended
  * pass per query is dropped by the median, per-rep totals stay in the
  * JSON so contention is visible, and a query only reports FAILED
  * (negative median) when it fails a majority of passes. Set
  * SPARK_GRAFT_REPS=1 for a quick single-pass run while iterating.
  */
object Bench {
  /** The canonical session, the one Verify checks correctness under. */
  def session(): org.apache.spark.sql.SparkSession = GraftSession.forMain("graft-bench")

  /** Fixed CPU-bound canary (VERDICT r12 item 1b): a single-thread xorshift
    * checksum loop (~1 s on a healthy core, zero allocation, zero I/O),
    * measured before every rep and after the last. It decides "host
    * degraded" vs "code regressed" WITHOUT floors: the loop never changes,
    * so its time is a pure host-epoch probe — a run whose canary sits 1.5×
    * over the floor-epoch canary is drifted hardware, not a regression.
    * The canary min is archived in the floor file under "__canary__" so
    * vs_floor consumers can normalize across epochs. */
  def canary(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    val t0 = System.nanoTime()
    while (i < 400000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x
      i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (acc == 42L) System.err.println("[bench] canary checksum collision")
    dt
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // local iteration aid: SPARK_GRAFT_ONLY=q1,q2 restricts the run;
    // tokens trimmed and unknown names warned — 'a, b' must not silently
    // drop b, and a misspelled filter must not look like a clean run
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach(_.diff(SparkEntry.queries.keySet).foreach(n =>
      System.err.println(s"[bench] WARNING: unknown query in SPARK_GRAFT_ONLY: $n")))
    val spark = session()
    // JVM/IO warm-up: one full pass of the flagship query
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // A failed query must be LOUD: recorded as a NEGATIVE time in the queries
    // dict (parses as a number for the driver, unmistakable to a reader),
    // collected into an "errors" object, and printed per-failure to stderr.
    // The r5 snapshot silently recorded 11 analysis-broken queries as ~0.1s
    // successes; never again.
    //
    // NOISE PROTOCOL (round-6 verdict: the archived run carried host
    // contention that idle re-runs didn't — sp_spmm 11.1 s archived vs
    // 2.2 s idle): the suite runs SPARK_GRAFT_REPS complete passes
    // (default 3) and archives the per-query MEDIAN of the signed times —
    // one contended pass per query is discarded by construction, and a
    // query must fail in a MAJORITY of passes for its median to go
    // negative. Per-rep totals are recorded alongside so a contended rep
    // is visible in the archive instead of silently averaged away.
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt)
    // TIME BUDGET (VERDICT r13 item 1b): BENCH_r13 died rc:124 because 3
    // fixed reps overran the driver window and the artifact printed only at
    // the very end. After each completed rep, if elapsed + a projected next
    // rep would exceed the budget, stop repping and emit with what we have.
    // Default 1500 s of bench wall time — the driver window minus sbt
    // compile + JVM startup headroom (r12 passed at ~1940 s total).
    val timeBudget = sys.env.get("SPARK_GRAFT_TIME_BUDGET_S")
      .map(_.toDouble).getOrElse(1500.0)
    val tRun0 = System.nanoTime()
    def elapsedRun: Double = (System.nanoTime() - tRun0) / 1e9
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // per-query operator counters (VERDICT r9 item 1): deterministic
    // driver-side decision counts (certificate scans, repair/keyed rounds)
    // captured around each query so a slow run is attributable — did it DO
    // more work, or just run slower? Max across reps: deterministic
    // algorithms agree rep-to-rep, so any spread is itself a finding.
    val counterAcc = scala.collection.mutable.LinkedHashMap[String, Map[String, Long]]()
    val canaries = scala.collection.mutable.ArrayBuffer[Double]()
    // STREAMING ARTIFACT (VERDICT r13 item 1a): per-rep (and every 25
    // queries / 30 s) the COMPLETE running JSON line is re-printed to
    // STDERR ONLY (ADVICE r14: a stdout-only consumer sees no mid-rep
    // partials — the harness captures streams separately, and partials
    // dual-printed corrupted merged `> f 2>&1` captures). The driver
    // parser takes the last line of its stream, so a timeout mid-rep
    // still yields the medians of everything measured so far instead of
    // nothing. perRep is mutable; the final emit (partial=false) keeps
    // the contract's dual stdout+stderr print, full per-query dict LAST.
    val perRep = scala.collection.mutable.ArrayBuffer[
      scala.collection.mutable.LinkedHashMap[String, Double]]()
    var budgetStopped = false
    var repsDone = 0
    var lastEmitNs = System.nanoTime()
    val repIt = (1 to reps).iterator
    while (repIt.hasNext && !budgetStopped) {
      val rep = repIt.next()
      canaries += canary()
      val cur = scala.collection.mutable.LinkedHashMap[String, Double]()
      perRep += cur
      names.zipWithIndex.foreach { case ((name, fn), qi) =>
        Instrument.reset()
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch { case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName).takeWhile(_ != '\n').take(200)
          errors.getOrElseUpdate(name, msg)
          System.err.println(s"[bench] FAILED $name (rep $rep): $msg")
          false
        }
        spark.catalog.clearCache()
        val dt = (System.nanoTime() - t0) / 1e9
        // one attributable tick per query (VERDICT r13 item 1c): a future
        // kill's last stderr line names the query it died inside
        System.err.println(f"[bench] rep $rep ${qi + 1}/${names.length} $name t=$dt%.2f s")
        val snap = Instrument.snapshot()
        if (snap.nonEmpty) {
          val prev = counterAcc.getOrElse(name, Map.empty)
          counterAcc(name) = (prev.keySet ++ snap.keySet).map(k =>
            k -> math.max(prev.getOrElse(k, 0L), snap.getOrElse(k, 0L))).toMap
        }
        cur(name) = if (ok) dt else -dt
        // cadence: every 25 queries OR 30 s since the last emit — a
        // filtered (SPARK_GRAFT_ONLY) run of a few slow queries must also
        // leave a parseable line behind if the harness kills it mid-rep
        if ((qi + 1) < names.length &&
            ((qi + 1) % 25 == 0 || (System.nanoTime() - lastEmitNs) / 1e9 > 30.0)) {
          emitLine(partial = true)
          lastEmitNs = System.nanoTime()
        }
      }
      repsDone += 1
      if (repIt.hasNext) {
        emitLine(partial = true)
        val lastRepTime = cur.values.map(math.abs).sum + canaries.last
        if (elapsedRun + 1.05 * lastRepTime > timeBudget) {
          budgetStopped = true
          System.err.println(f"[bench] TIME BUDGET: stopping after rep $repsDone " +
            f"(elapsed $elapsedRun%.0f s + projected $lastRepTime%.0f s > budget $timeBudget%.0f s)")
        }
      }
    }
    canaries += canary()
    emitLine(partial = false)

    // Everything below closes over the mutable state above; partial emits
    // skip floor/archive writes (measurement incomplete), the final emit
    // performs them under the same conditions as before.
    def emitLine(partial: Boolean): Unit = {
    val canaryMin = canaries.min
    val repTotals = perRep.toSeq.map(_.values.map(math.abs).sum)
    val results: Seq[(String, Double)] = names.flatMap { case (name, _) =>
      val ts = perRep.toSeq.flatMap(_.get(name)).sorted
      if (ts.isEmpty) None
      else Some(name -> ts((ts.length - 1) / 2)) // lower-median of the signed times
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).map(math.abs).sum else 0.0
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val errJson = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    if (!partial && errors.nonEmpty)
      System.err.println(s"[bench] ${errors.size} QUERY FAILURE(S): ${errors.keys.mkString(", ")}")
    val failedMedians = results.count(_._2 < 0)
    val repsJson = repTotals.map(t => f"$t%.1f").mkString("[", ",", "]")
    // idle-host protocol flag (ADVICE r8): rep totals spreading >15%
    // around their median mean host contention — downstream consumers
    // must not read per-query deltas from such a run as regressions.
    // Rep 1 is excluded when ≥3 reps ran: a fresh JVM's first pass is
    // 15-25% slower from class-loading/JIT alone (measured consistently
    // on back-to-back otherwise-idle runs), and the per-query medians
    // (lower-median of 3) already discard it — the flag should measure
    // CONTENTION, not warm-up
    val doneTotals = repTotals.take(repsDone) // exclude a mid-rep partial total
    val idleReps = if (doneTotals.length >= 3) doneTotals.drop(1) else doneTotals
    val idle = idleReps.nonEmpty && {
      val med = idleReps.sorted.apply((idleReps.length - 1) / 2)
      idleReps.forall(t => math.abs(t - med) <= 0.15 * med)
    }
    // ABSOLUTE floor protocol (VERDICT r9 item 2): the rep-spread idle flag
    // can bless a UNIFORMLY contended run (337 vs 347 s → "idle"), so keep
    // a per-query rolling MIN across runs (BENCH_FLOOR_<sf>.json, updated
    // by full runs only) and flag any run whose suite total exceeds the
    // floor sum by >20% as contended regardless of rep spread. The floor
    // includes this run's medians, so vs_floor ≥ 1 by construction and a
    // fresh machine's first run simply seeds it.
    val sfTag = sfDir.split("/").filter(_.nonEmpty).lastOption.getOrElse("unknown")
    val floorPath = java.nio.file.Paths.get(s"BENCH_FLOOR_$sfTag.json")
    val priorFloor: Map[String, Double] =
      if (java.nio.file.Files.exists(floorPath)) {
        val txt = java.nio.file.Files.readString(floorPath)
        "\"([^\"]+)\":([0-9.Ee+-]+)".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } else Map.empty
    val okResults = results.filter(_._2 > 0).toMap
    // EPOCH RESET (VERDICT r12 item 1a): the rolling-min floor file mixed
    // r6-r10-epoch numbers with fresh ones, so on a drifted host the summed
    // floor_total became unreachable and vs_floor stopped distinguishing
    // "host degraded" from "code regressed". SPARK_GRAFT_FLOOR_RESET=1
    // replaces the ENTIRE floor set with this run's per-query best-of-reps
    // (min across passes, the quiet-host estimate a median can't beat) —
    // one epoch, one host, one commit. The canary min is stored alongside
    // under "__canary__" so the next epoch shift is detectable without
    // another full reset.
    val floorReset = sys.env.get("SPARK_GRAFT_FLOOR_RESET").contains("1")
    val okMin: Map[String, Double] = names.map(_._1).flatMap { name =>
      val ts = perRep.toSeq.flatMap(_.get(name)).filter(_ > 0)
      if (ts.nonEmpty) Some(name -> ts.min) else None
    }.toMap
    val floorCanary = priorFloor.get("__canary__")
    val newFloor: Map[String, Double] =
      if (floorReset) okMin + ("__canary__" -> canaryMin)
      else {
        val merged = (priorFloor.keySet ++ okResults.keySet - "__canary__").map { k =>
          k -> math.min(priorFloor.getOrElse(k, Double.MaxValue),
            okResults.getOrElse(k, Double.MaxValue))
        }.toMap
        merged + ("__canary__" -> math.min(canaryMin, floorCanary.getOrElse(canaryMin)))
      }
    val floorTotal = okResults.keys.flatMap(newFloor.get).sum
    val okTotal = okResults.values.sum
    val vsFloor = if (floorTotal > 0) okTotal / floorTotal else 1.0
    // canary ratio vs the floor epoch: >1 means the host is slower NOW than
    // when the floors were measured — a uniform vs_floor excess that
    // matches canary_vs_floor is hardware drift, not a code regression
    val canaryVsFloor = floorCanary.filter(_ > 0).map(canaryMin / _)
    // ADVICE r13: the reset suppression of `contended` is only honest when
    // the floor file is actually rewritten — a filtered (only-set) or
    // partial run never writes floors, so its comparison is still against
    // the old epoch and must keep the flag live.
    val floorRewrites = !partial && only.isEmpty && okResults.nonEmpty
    val contended = vsFloor > 1.2 && !(floorReset && floorRewrites)
    if (floorRewrites)
      try {
        if (floorReset) {
          val dropped = (priorFloor.keySet - "__canary__").diff(okMin.keySet)
          if (dropped.nonEmpty)
            System.err.println(s"[bench] FLOOR RESET drops ${dropped.size} " +
              s"quer${if (dropped.size == 1) "y" else "ies"} with no passing rep: " +
              dropped.toSeq.sorted.mkString(", "))
        }
        val body = newFloor.toSeq.sortBy(_._1)
          .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
        java.nio.file.Files.writeString(floorPath, body)
      } catch { case _: Throwable => () }
    // self-authentication (ADVICE r8): commit + timestamp in the artifact,
    // so a genuine re-run is distinguishable from a file copy
    val countersJson = counterAcc.map { case (q, cs) =>
      jstr(q) + ":" + cs.toSeq.sortBy(_._1)
        .map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val canaryJson = canaries.map(c => f"$c%.3f").mkString("[", ",", "]")
    val canaryVsJson = canaryVsFloor.map(r => f"$r%.3f").getOrElse("null")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","failed":$failedMedians,"reps":$reps,"reps_done":$repsDone,"partial":$partial,"budget_stop":$budgetStopped,"elapsed_s":${f"$elapsedRun%.1f"},"rep_totals":$repsJson,"idle":$idle,"floor_total":${f"$floorTotal%.1f"},"vs_floor":${f"$vsFloor%.3f"},"contended":$contended,"floor_reset":$floorReset,"canary":$canaryJson,"canary_min":${f"$canaryMin%.3f"},"canary_vs_floor":$canaryVsJson,"commit":${jstr(RunStamp.commit)},"ts":${jstr(RunStamp.ts)},"errors":$errJson,"counters":$countersJson,"queries":$qs,"sf":"$sfDir"}"""
    // archive per sf (BENCH_LOCAL_sf0.1.json etc.): a run at a different
    // SPARK_GRAFT_SF_DIR must not clobber another scale's baseline — the
    // round-3 archive regenerated at sf0.01 looked like a 2x speedup.
    // Filtered runs never write.
    // HARD gate (VERDICT r11 item 3): a run whose own contention heuristic
    // fires must never become the archived perf evidence — BENCH_r11 was a
    // loaded-host artifact (36 queries >2x their unchanged floors) and
    // could have been tuned against. Print the line (driver contract) but
    // refuse the archive write and say so loudly.
    if (!partial && only.isEmpty && !contended)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"BENCH_LOCAL_$sfTag.json"), line)
      catch { case _: Throwable => () }
    else if (!partial && contended)
      System.err.println(f"[bench] CONTENDED RUN (total $okTotal%.1f s = $vsFloor%.2fx floor " +
        f"$floorTotal%.1f s): archive NOT written — re-run on an idle host")
    val top = results.sortBy(r => -math.abs(r._2)).take(40)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" }.mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","failed":$failedMedians,"reps":$reps,"reps_done":$repsDone,"partial":$partial,"queries":$top,"sf":"$sfDir","note":"median of $reps passes per query; top40 by |t|, negative = FAILED in a majority of passes; full per-query dict also in BENCH_LOCAL_<sf>.json"}"""
    // Emission order (VERDICT r14 item 2): the driver's last-line parse fed
    // PERF only the top-40 compact dict, so the FULL per-query line now
    // prints LAST and the compact preview first. (The round-4 "harness
    // records only the tail" comment that motivated compact-last was a
    // misdiagnosis — the r03/r04 parse failures were sbt's "[info] " stdout
    // prefix, fixed by outputStrategy := StdoutOutput; the driver parses
    // stdout lines, and the 2000-char tail in BENCH_r*.json is a display
    // artifact.)
    // Partial (mid-run) emissions go to STDERR ONLY: stdout rides sbt's
    // logger thread, so interleaving the same ~18 KB line on both streams
    // gives a merged capture two chances per emit to corrupt it mid-line
    // (observed on a `> file 2>&1` run). One stream per partial line keeps
    // every line atomic (println is synchronized per stream); the FINAL
    // emission keeps the dual print — the driver contract's stdout line,
    // full dict last on both streams.
    if (!partial) {
      println(compact)
      println(line)
      System.out.flush()
    }
    System.err.println(compact)
    System.err.println(line)
    System.err.flush()
    } // emitLine
    spark.stop()
  }
}
