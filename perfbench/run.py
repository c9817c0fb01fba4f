#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload solver_loops --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The first run compiles graft and the
harness into `.bench_build/`. One JVM (`local[nproc]`) sets up a session
several times, runs an untimed warm-up pass over the workload's queries,
then timed passes in a seeded order until about `--seconds` have been
measured. The first run after a build also makes the JVM's class-data-sharing
archive in `.bench_build/`.
Each query is timed from the call into its query function to the end of
one action that fingerprints every column of every row; the fingerprint is
checked against `expected.tsv`.

`--trace 0` reports the end-to-end metrics; `--trace 1` alternates untraced
and traced passes and reports the per-layer metrics plus the tracing
overhead. The full result (host stamp, per-query rows, per-layer split) is
written atomically to `.bench_out/<workload>-seed<seed>-trace<t>.json`; the
last line of standard output is the summary JSON object.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import metrics  # noqa: E402

SETUPS = 3          # session set-ups per run; setup_s is their median
WARMUP_PASSES = 1   # untimed pass first: a fresh JVM is still compiling hot code
MAX_PASSES = 64     # orders generated per run; the time budget stops first
RUN_BUDGET_S = 150  # no pass starts that would end later than this after JVM start;
                    # a hand-run workload may set its own "run_budget_s"
# C1 only. Under C2 the timed passes of a fresh JVM kept speeding up for
# minutes and the same workload ran up to 1.7x slower in one JVM than in the
# next (profile-driven compiles of Spark's interpreted expression paths); a
# run this short cannot average that out. C1 reaches its steady speed within
# the warm-up pass, at about 1.4x the warm C2 time.
JIT = "-XX:TieredStopAtLevel=1"
# C1 alone gets a 48 MB code cache by default. A workload fills it after
# about 45 s; the sweeper then flushed ~25,000 compiled methods at once and
# the pass running at that moment took 1.4x as long. The tiered default size
# keeps every compiled method for a whole run.
CODE_CACHE = "-XX:ReservedCodeCacheSize=240m"
# every JVM the benchmark starts keeps its files inside the checkout: no
# hsperfdata file in the system temp directory
NO_PERF_DATA = "-XX:-UsePerfData"
# A class-data-sharing archive of the classes one pass over the benchmark's
# workloads loads, made once per build. It halves the cold start of each run
# (about 14 s to 6.5 s from JVM start to the first set-up on a 4-core VM),
# time the run then spends measuring.
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return json.load(fh)


def load_expected():
    out = {}
    with open(os.path.join(HERE, "expected.tsv")) as fh:
        for line in fh:
            if line.strip() and not line.startswith("#"):
                k, v = line.rstrip("\n").split("\t")
                out[k] = v
    return out


def write_atomically(path, text):
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, prefix=".tmp-")
    with os.fdopen(fd, "w") as fh:
        fh.write(text)
    os.replace(tmp, path)


def host_stamp(root, seed, cores, doc):
    mem_kb = None
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
    except OSError:
        pass
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"nproc": cores, "mem_total_kb": mem_kb, "host": platform.node(),
            "jvm": doc["jvm"], "python": platform.python_version(),
            "commit": commit, "source_sha256": build.source_digest(root),
            "seed": seed, "confs": doc["confs"]}


def run_jvm(root, jar, args, timeout, cds):
    tmp = os.path.join(root, ".bench_build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    cmd = (["java", "-Xmx4g", JIT, CODE_CACHE, NO_PERF_DATA, cds]
           + [a for p in JVM_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
              "-cp", build.classpath(jar), "perfbench.Harness"] + args)
    log = os.path.join(root, ".bench_build", "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=root, env=env, stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: harness timed out after {timeout} s; see {log}")
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"perfbench: harness failed ({rc}); see {log}")


def ensure_archive(root, jar, data, expected_file, cores):
    """Make the class-data-sharing archive if this build has none yet: one JVM
    runs a set-up and one pass over every benchmark workload's queries, and
    dumps the classes it loaded when it exits."""
    jsa = build.archive_path(root)
    if os.path.exists(jsa):
        return jsa
    print("perfbench: making the class-data-sharing archive", file=sys.stderr, flush=True)
    work = os.path.join(root, ".bench_build", "archive")
    os.makedirs(work, exist_ok=True)
    names = [q for w in load_workloads().values() if not w.get("manual") for q in w["queries"]]
    with open(os.path.join(work, "order.txt"), "w") as fh:
        fh.write(",".join(dict.fromkeys(names)) + "\n")
    tmp = jsa + ".tmp"
    run_jvm(root, jar, [
        "--data", data, "--order", os.path.join(work, "order.txt"), "--expected", expected_file,
        "--seconds", "0", "--budget", str(RUN_BUDGET_S), "--trace", "0", "--setups", "1",
        "--warmup", "0", "--cores", str(cores), "--out", os.path.join(work, "raw.json")],
        timeout=RUN_BUDGET_S + 60, cds=f"-XX:ArchiveClassesAtExit={tmp}")
    os.replace(tmp, jsa)
    return jsa


def end_to_end(doc):
    """End-to-end metrics over the untraced timed passes, as (value, unit)."""
    timed = [p["wall_s"] for p in doc["passes"] if p["timed"] and not p["traced"]]
    by_query = {}
    for q in doc["queries"]:
        if doc["passes"][q["pass"]]["timed"] and not doc["passes"][q["pass"]]["traced"]:
            by_query.setdefault(q["name"], []).append(q["wall_s"])
    lat = [v for vs in by_query.values() for v in vs]
    out = {
        "setup_s": (statistics.median(s["total_s"] for s in doc["setups"]), "s"),
        "pass_s": (statistics.median(timed), "s"),
        "query_p50_s": (statistics.median(lat), "s"),
        "query_geomean_s": (metrics.geomean([statistics.median(v) for v in by_query.values()]), "s"),
        "heap_peak_mb": (doc["heap_peak_mb"], "MB"),
    }
    # p90 only with at least ten samples beyond it; otherwise null
    out["query_p90_s"] = (metrics.percentile_reported(lat, 0.9), "s")
    return out, len(lat)


def per_layer(doc, cores):
    per_pass, per_query = metrics.layer_split(doc, cores)
    untraced = [p["wall_s"] for p in doc["passes"] if p["timed"] and not p["traced"]]
    traced = [p["wall_s"] for p in doc["passes"] if p["traced"]]
    out = {m: statistics.median(pp[m] for pp in per_pass) for m in metrics.PER_LAYER}
    out["session.create_s"] = statistics.median(s["create_s"] for s in doc["setups"])
    out["jvm.heap_peak_mb"] = doc["heap_peak_mb"]
    overhead = statistics.median(traced) - statistics.median(untraced)
    out["trace.overhead_s"] = overhead
    out["trace.overhead_frac"] = overhead / statistics.median(untraced)
    queries = {name: {k: statistics.median(v) for k, v in rows.items()}
               for name, rows in per_query.items()}
    return out, queries


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = load_workloads()
    if a.workload not in workloads:
        raise SystemExit(f"perfbench: unknown workload {a.workload}; have {sorted(workloads)}")
    wl = workloads[a.workload]
    expected = load_expected()
    data = os.path.join(HERE, "data")
    jar = build.ensure(root)
    cores = len(os.sched_getaffinity(0))  # nproc

    budget = wl.get("run_budget_s", RUN_BUDGET_S)
    # the warm-up runs in the listed order, so every run's JIT sees the same
    # first executions; the seed permutes the timed passes
    orders = [wl["queries"]] * WARMUP_PASSES + metrics.pass_orders(wl["queries"], a.seed, MAX_PASSES)
    work = os.path.join(root, ".bench_build", f"run-{a.workload}-{a.seed}-{a.trace}")
    os.makedirs(work, exist_ok=True)
    with open(os.path.join(work, "order.txt"), "w") as fh:
        fh.write("\n".join(",".join(o) for o in orders) + "\n")
    with open(os.path.join(work, "expected.tsv"), "w") as fh:
        fh.write("".join(f"{k}\t{v}\n" for k, v in expected.items()))
    jsa = ensure_archive(root, jar, data, os.path.join(work, "expected.tsv"), cores)
    raw = os.path.join(work, "raw.json")
    run_jvm(root, jar, [
        "--data", data, "--order", os.path.join(work, "order.txt"),
        "--expected", os.path.join(work, "expected.tsv"), "--seconds", str(a.seconds),
        "--budget", str(budget), "--trace", str(a.trace), "--setups", str(SETUPS),
        "--warmup", str(WARMUP_PASSES),
        "--cores", str(cores), "--out", raw], timeout=budget + 25,
        cds=f"-XX:SharedArchiveFile={jsa}")
    with open(raw) as fh:
        doc = json.load(fh)

    bad = [q for q in doc["queries"] if not q["ok"]]
    for q in bad:
        why = q["error"] or f"fingerprint {q['fingerprint']} != {expected.get(q['name'])}"
        print(f"perfbench: FAILED {q['name']} (pass {q['pass']}): {why}", file=sys.stderr)
    attempted = len(doc["queries"])
    result = {"workload": a.workload, "why": wl["why"], "trace": a.trace,
              "stamp": host_stamp(root, a.seed, cores, doc),
              "load": "closed loop, one client, one query at a time",
              "queries": len(wl["queries"]), "attempted": attempted, "failed": len(bad),
              "failed_frac": len(bad) / attempted, "passes": doc["passes"],
              "setups": doc["setups"], "rows": doc["queries"]}
    if a.trace:
        layers, per_query = per_layer(doc, cores)
        result["per_layer"] = layers
        result["per_query"] = per_query
        shown = {m["name"]: (layers[m["name"]], m["unit"]) for m in spec["per_layer"]}
    else:
        e2e, samples = end_to_end(doc)
        result["end_to_end"] = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        result["latency_samples"] = samples
        shown = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
    write_atomically(os.path.join(root, ".bench_out",
                                  f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
                     json.dumps(result, indent=1, sort_keys=True))
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": len(bad),
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()}}))


if __name__ == "__main__":
    main()
