#!/usr/bin/env python3
"""Record the expected fingerprints from an oracle-checked correctness dump.

    Q=<comma-separated workload queries plus rel_top3_mktsegment>
    SPARK_GRAFT_ONLY=$Q python3 scripts/check.py perfbench/data <dump> --only=$Q
    python3 perfbench/record.py <dump>

`scripts/check.py` writes each query's result as parquet under `<dump>/<name>`
and compares it with the DuckDB oracle; record only after every query passes.
This fingerprints those stored results with the benchmark's own digest and
rewrites `perfbench/expected.tsv` for every query of every workload. The
warm-up query of the set-up is `rel_top3_mktsegment`'s function.
"""
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

WARMUP = "rel_top3_mktsegment"


def main(dump):
    root = os.getcwd()
    jar = build.ensure(root)
    cmd = (["java", "-Xmx2g", run.NO_PERF_DATA]
           + [a for p in run.JVM_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(jar), "perfbench.Harness",
              "--fingerprint-dir", os.path.abspath(dump), "--cores", str(len(os.sched_getaffinity(0)))])
    out = subprocess.run(cmd, cwd=root, capture_output=True, text=True, check=True).stdout
    found = dict(line.split("\t") for line in out.splitlines() if "\t" in line)
    wanted = sorted({q for w in run.load_workloads().values() for q in w["queries"]})
    missing = [q for q in wanted + [WARMUP] if q not in found]
    if missing:
        raise SystemExit(f"record: no stored result for {missing}")
    lines = [f"__warmup__\t{found[WARMUP]}"] + [f"{q}\t{found[q]}" for q in wanted]
    run.write_atomically(os.path.join(HERE, "expected.tsv"),
                         "# query<TAB>rows:sum of xxhash64 row hashes:schema hash\n"
                         + "\n".join(lines) + "\n")
    print(f"record: {len(lines)} fingerprints written")


if __name__ == "__main__":
    main(sys.argv[1])
