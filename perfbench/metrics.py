"""Pure functions behind the benchmark's numbers: seeded pass orders, pooled
latency percentiles, span self times and the per-layer split of a traced run.
Every time is in seconds unless a name says otherwise."""
import math
import random

# metric name -> (unit, counter key in the trace, scale to the unit)
TASK_COUNTERS = {
    "scheduler.jobs": ("count", "jobs", 1.0),
    "scheduler.stages": ("count", "stages", 1.0),
    "scheduler.tasks": ("count", "tasks", 1.0),
    "scheduler.failed_tasks": ("count", "failed_tasks", 1.0),
    "scheduler.task_wait_s": ("s", "task_wait_ms", 1e-3),
    "executor.run_s": ("s", "run_ms", 1e-3),
    "executor.cpu_s": ("s", "cpu_ns", 1e-9),
    "executor.gc_s": ("s", "gc_ms", 1e-3),
    "executor.deser_s": ("s", "deser_ms", 1e-3),
    "executor.input_bytes": ("bytes", "input_bytes", 1.0),
    "executor.result_bytes": ("bytes", "result_bytes", 1.0),
    "shuffle.write_bytes": ("bytes", "shuffle_write_bytes", 1.0),
    "shuffle.read_bytes": ("bytes", "shuffle_read_bytes", 1.0),
    "shuffle.fetch_wait_s": ("s", "fetch_wait_ms", 1e-3),
    "spill.bytes": ("bytes", "spill_bytes", 1.0),
}

# graft.Instrument counters reported per pass (absent counters read 0); the
# per-query split keeps every counter a query incremented
OPERATOR_COUNTERS = ["xcos.prefix", "xcos.u_rows"]

UNITS = {
    "session.create_s": "s", "queries.build_s": "s", "queries.build_self_s": "s",
    "queries.action_s": "s", "queries.action_self_s": "s", "driver.residual_s": "s",
    "scheduler.job_busy_s": "s", "executor.util": "ratio",
    "catalyst.actions": "count", "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "codegen.compiles": "count", "codegen.compile_s_est": "s",
    "trace.overhead_s": "s", "trace.overhead_frac": "ratio", "jvm.heap_peak_mb": "MB",
    **{k: v[0] for k, v in TASK_COUNTERS.items()},
    **{"operators." + k: "count" for k in OPERATOR_COUNTERS},
}
PER_LAYER = list(UNITS)


def pass_orders(queries, seed, passes):
    """One permutation of `queries` per pass, reproducible from `seed`."""
    rng = random.Random(f"perfbench:{seed}")
    return [rng.sample(list(queries), len(queries)) for _ in range(passes)]


def percentile_reported(samples, q, min_beyond=10):
    """The q-quantile (0<q<1) of the samples, or None when fewer than
    `min_beyond` samples lie strictly above it."""
    if not samples:
        return None
    xs = sorted(samples)
    k = max(0, min(len(xs) - 1, math.ceil(q * len(xs)) - 1))
    v = xs[k]
    return v if sum(1 for x in xs if x > v) >= min_beyond else None


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """Span duration minus the part of its interval its children cover."""
    s, e = span
    clipped = [(max(s, a), min(e, b)) for a, b in children if min(e, b) > max(s, a)]
    return (e - s) - union_length(clipped)


def span_tree(spans, jobs, phases, actions=()):
    """All spans of a traced run as {id: (parent, name, start_s, end_s)}.

    Spark jobs hang under the benchmark span named by their local property.
    Catalyst phases, and actions (as instants), ran on the driver thread and
    hang under the benchmark leaf span that contains their start."""
    tree = {s["id"]: (s["parent"], s["name"], s["start_ns"] / 1e9, s["end_ns"] / 1e9)
            for s in spans}
    for j in jobs:
        tree[f"job{j['id']}"] = (j["span"], "spark.job", j["start_ms"] / 1e3, j["end_ms"] / 1e3)
    leaves = sorted((v[2], v[3], k) for k, v in tree.items()
                    if v[1] in ("queries.build", "action"))

    def container(t):
        inside = [k for s, e, k in leaves if s <= t <= e]
        return inside[0] if inside else "run"
    for i, ph in enumerate(phases):
        a, b = ph["start_ms"] / 1e3, ph["end_ms"] / 1e3
        tree[f"cat{i}"] = (container(a), "catalyst." + ph["phase"], a, b)
    for i, act in enumerate(actions):
        t = act["at_ms"] / 1e3
        tree[f"act{i}"] = (container(t), "catalyst.action", t, t)
    return tree


def self_times(tree):
    """{span id: self time} for every span of `span_tree`."""
    kids = {}
    for k, (parent, _, s, e) in tree.items():
        kids.setdefault(parent, []).append((s, e))
    return {k: self_time((s, e), kids.get(k, [])) for k, (_, _, s, e) in tree.items()}


def layer_split(doc, cores):
    """Per-layer metrics of each traced pass, and per query.

    Returns (per_pass, per_query): per_pass is a list of {metric: value} for
    the traced passes; per_query maps query name -> {metric: [value per
    traced pass]}."""
    tr = doc["trace"]
    tree = span_tree(doc["spans"], tr["jobs"], tr["phases"], tr["actions"])
    selfs = self_times(tree)
    traced = {p["index"]: p["wall_s"] for p in doc["passes"] if p["traced"]}
    jobs_by_query, phases_by_query = {}, {}
    for k, (parent, name, s, e) in tree.items():
        qid = parent.rsplit(".", 1)[0] if parent.count(".") == 2 else None
        if name == "spark.job" and qid:
            jobs_by_query.setdefault(qid, []).append((s, e))
        elif name.startswith("catalyst.") and qid:
            phases_by_query.setdefault(qid, []).append((name, e - s))
    per_pass = {p: {m: 0.0 for m in PER_LAYER} for p in traced}
    per_query = {}
    for q in doc["queries"]:
        p = q["pass"]
        if p not in traced:
            continue
        qid = q["span"]
        m = {k: 0.0 for k in PER_LAYER
             if not k.startswith("trace.") and k not in ("session.create_s", "jvm.heap_peak_mb")}
        m["queries.build_s"] = q["build_s"]
        m["queries.action_s"] = q["action_s"]
        m["queries.build_self_s"] = selfs.get(qid + ".build", 0.0)
        m["queries.action_self_s"] = selfs.get(qid + ".action", 0.0)
        job_iv = jobs_by_query.get(qid, [])
        m["scheduler.job_busy_s"] = union_length(job_iv)
        m["driver.residual_s"] = q["wall_s"] - m["scheduler.job_busy_s"]
        for part in (".build", ".action"):
            c = tr["counters"].get(qid + part, {})
            for metric, (_, key, scale) in TASK_COUNTERS.items():
                m[metric] += c.get(key, 0.0) * scale
        for name, dur in phases_by_query.get(qid, []):
            if name == "catalyst.action":
                m["catalyst.actions"] += 1
            elif name + "_s" in m:
                m[name + "_s"] += dur
        m["codegen.compiles"] = q["codegen_compiles"]
        m["codegen.compile_s_est"] = q["codegen_compiles"] * q["codegen_mean_ms"] / 1e3
        for k, v in q["operators"].items():
            m["operators." + k] = v
        m["executor.util"] = m["executor.run_s"] / (q["wall_s"] * cores) if q["wall_s"] else 0.0
        for k, v in m.items():
            if k in per_pass[p] and k != "executor.util":
                per_pass[p][k] += v
        rows = per_query.setdefault(q["name"], {})
        for k, v in m.items():
            rows.setdefault(k, []).append(v)
        rows.setdefault("wall_s", []).append(q["wall_s"])
    for p, wall in traced.items():
        per_pass[p]["executor.util"] = per_pass[p]["executor.run_s"] / (wall * cores)
    return [per_pass[p] for p in sorted(per_pass)], per_query
