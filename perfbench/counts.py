#!/usr/bin/env python3
"""Reports which per-op counts of traced runs repeat exactly.

Reads the span files traced runs leave in `.bench_build/trace/`
(`<workload>-seed<N>-<time>.json`) and, for every op and count, prints
whether all passes of all runs saw the same value. The inputs of
`catalog` and `llm_hot` do not depend on the seed, so their runs are
compared across seeds; `crawl_ingest` runs are compared only within one
seed, so it needs two traced runs with the same seed.

    python3 perfbench/counts.py [trace-dir]
"""
import glob
import json
import os
import re
import sys

COUNTS = ["jobs", "construct.jobs", "sources.load_jobs", "sources.scan_rows",
          "materialize.pins", "plan.executions", "exec.jobs", "exec.stages",
          "exec.tasks", "exec.single_task_stages"]


def main():
    trace_dir = sys.argv[1] if len(sys.argv) > 1 else ".bench_build/trace"
    groups = {}
    for path in sorted(glob.glob(os.path.join(trace_dir, "*-seed*.json"))):
        workload, seed = re.match(r"(.+)-seed(\d+)(?:-[0-9T]+)?\.json$",
                                  os.path.basename(path)).groups()
        key = f"{workload} seed {seed}" if workload == "crawl_ingest" else workload
        for s in json.load(open(path))["samples"]:
            s = dict(s, jobs=len(s["jobs"]))
            g = groups.setdefault(key, {})
            for c in COUNTS:
                g.setdefault((s["op"], c), []).append(s[c])
    for key, g in groups.items():
        n = max(len(v) for v in g.values())
        if n < 2:
            print(f"{key}: one sample per op, nothing to compare")
            continue
        varying = {k: v for k, v in g.items() if len(set(v)) > 1}
        exact = sorted({c for (_, c) in g} - {c for (_, c) in varying})
        print(f"{key}: {n} samples per op")
        print(f"  exact for every op: {', '.join(exact) or 'none'}")
        for (op, c), v in sorted(varying.items()):
            print(f"  varies: {op} {c} {min(v)}..{max(v)}")


if __name__ == "__main__":
    main()
