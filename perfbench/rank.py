#!/usr/bin/env python3
"""Rank each workload's queries by their dominant layer, from traced runs.

    python3 perfbench/rank.py [.bench_out/<workload>-seed<n>-trace1.json ...]

With no arguments it reads every traced result under `.bench_out/`. Each
query's wall time (median over traced passes) is split into:

  catalyst   analysis + optimization + planning phase time
  codegen    estimated janino compile time (compiles x mean compile time)
  executor   task run time / cores: wall time the tasks would fill on all cores
  scheduler  Spark job wall time not filled by that executor share
  driver     query wall time outside any Spark job, minus catalyst and codegen

The split is an attribution, not a partition measured by one clock: the
catalyst and codegen terms are subtracted from the driver residual because
they run on the driver outside jobs, and any remainder below zero reads 0.
"""
import glob
import json
import os
import sys

LAYERS = ("catalyst", "codegen", "executor", "scheduler", "driver")
# unexplained slowdowns carried from earlier runs (ROADMAP open item 1)
WATCH = ("solver_rsvd_sparse", "solver_eigsh_sharded_big", "solver_eigsh_vectors")


def split(q, cores):
    catalyst = (q.get("catalyst.analysis_s", 0) + q.get("catalyst.optimization_s", 0)
                + q.get("catalyst.planning_s", 0))
    codegen = q.get("codegen.compile_s_est", 0)
    executor = q.get("executor.run_s", 0) / cores
    scheduler = max(0.0, q.get("scheduler.job_busy_s", 0) - executor)
    driver = max(0.0, q.get("driver.residual_s", 0) - catalyst - codegen)
    return dict(zip(LAYERS, (catalyst, codegen, executor, scheduler, driver)))


def report(path):
    with open(path) as fh:
        r = json.load(fh)
    cores = r["stamp"]["nproc"]
    rows = []
    for name, q in r["per_query"].items():
        s = split(q, cores)
        rows.append((q["wall_s"], name, max(s, key=s.get), s, q))
    rows.sort(reverse=True)
    print(f"== {r['workload']} (seed {r['stamp']['seed']}, {cores} cores, "
          f"{len(rows)} queries, medians over traced passes)")
    print(f"{'query':40s} {'wall_s':>7s} {'dominant':>9s} "
          + " ".join(f"{k:>9s}" for k in LAYERS) + f" {'jobs':>5s}")
    for wall, name, dom, s, q in rows:
        print(f"{name:40s} {wall:7.3f} {dom:>9s} "
              + " ".join(f"{s[k]:9.3f}" for k in LAYERS)
              + f" {int(q.get('scheduler.jobs', 0)):5d}")
    counts = {k: sum(1 for row in rows if row[2] == k) for k in LAYERS}
    print("dominant-layer counts: " + ", ".join(f"{k} {v}" for k, v in counts.items()))
    watched = [row for row in rows if row[1] in WATCH]
    for wall, name, dom, s, q in watched:
        ops = {k: v for k, v in q.items() if k.startswith("operators.") and v}
        print(f"watch {name}: wall {wall:.3f} s, dominant {dom}; "
              + ", ".join(f"{k} {s[k]:.3f} s" for k in LAYERS)
              + f"; jobs {int(q.get('scheduler.jobs', 0))}, tasks {int(q.get('scheduler.tasks', 0))}"
              + (f"; {ops}" if ops else ""))
    print()


def main(argv):
    paths = argv or sorted(glob.glob(os.path.join(".bench_out", "*-trace1.json")))
    if not paths:
        raise SystemExit("rank: no traced results; run perfbench/run.py with --trace 1 first")
    for p in paths:
        report(p)


if __name__ == "__main__":
    main(sys.argv[1:])
