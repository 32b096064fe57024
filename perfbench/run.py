#!/usr/bin/env python3
"""Runs one workload of the graft benchmark and prints its metrics.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 10 --trace 0

Builds the library and the harness once (sbt, into `.bench_build/`),
generates the fixtures once, then starts one JVM that runs the workload
as a closed loop for `--seconds` and records raw measurements. This
script checks the outputs (DuckDB oracle through `tools/check_oracle.py`
for `catalog` and `llm_hot`, an exact-Jaccard reference for
`crawl_ingest`), computes the metrics and prints, as its last line, one
JSON object with `correct`, `attempted`, `failed` and `metrics`.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pyarrow.parquet as pq  # noqa: E402

import datagen  # noqa: E402
import crawlref  # noqa: E402

WORKLOADS = ("catalog", "llm_hot", "crawl_ingest")
SCALE = 0.01
# The crawl draws from the sf0.1 `documents` table (5,000 documents) and
# keeps the history and batch size the crawl was designed with, but runs
# 5 of its 8 batches so that a run stays near a minute (README).
CRAWL_SCALE = 0.1
CRAWL = dict(history=1000, batches=5, new_per_batch=475, recrawl_per_batch=100)
# The heap of the project's own runners (build.sbt) and the default
# collector. No perf-data file in /tmp.
JVM_OPTS = ["-Xmx8g", "-XX:-UsePerfData"]
RUN_BUDGET_S = 170
MB = 1024.0 * 1024.0
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
REQUIRED = ["src/main/scala/graft/SparkEntry.scala", "tools/check_oracle.py",
            "perfbench/build.sbt"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash(root):
    h = hashlib.sha256()
    files = sorted(glob.glob(f"{root}/src/main/scala/**/*.scala", recursive=True)
                   + glob.glob(f"{root}/perfbench/src/**/*.scala", recursive=True)
                   + [f"{root}/perfbench/build.sbt",
                      f"{root}/perfbench/project/build.properties"])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark distribution the library builds against: SPARK_HOME, or
    the first `spark-submit` on PATH that sits in one (has `../jars`)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and os.path.isdir(os.path.join(home, "jars")):
            return home
    die("no Spark distribution: set SPARK_HOME")


def build(root, build_dir):
    """Compiles with sbt unless the sources are unchanged since the last
    build; returns the runtime classpath."""
    cp_file = f"{build_dir}/sbt-target/classpath.txt"
    stamp_file = f"{build_dir}/sbt-target/source.sha256"
    digest = source_hash(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        if open(stamp_file).read() == digest:
            return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    # keep the build's temporary files inside the checkout
    os.makedirs(f"{build_dir}/tmp", exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={build_dir}/tmp -XX:-UsePerfData"
    log = f"{build_dir}/build.log"
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
            cwd=f"{root}/perfbench", env=env, stdout=out,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL).returncode
    if rc != 0 or not os.path.exists(cp_file):
        sys.stderr.write(open(log).read()[-4000:])
        die(f"build failed (exit {rc}), see {log}")
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    return open(cp_file).read().strip()


def run_jvm(classpath, args, work, deadline):
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main"] + [str(a) for a in args]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    log = f"{work}/jvm.log"
    with open(log, "w") as out:
        try:
            rc = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                timeout=max(1.0, deadline - time.time())).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        die(f"benchmark JVM failed ({rc}), see {log}")
    return json.load(open(f"{work}/result.json"))


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def check_oracle(root, fixtures, work):
    """Runs the project's DuckDB oracle check on the dumped outputs;
    returns (query names that failed, report text)."""
    proc = subprocess.run(
        [sys.executable, f"{root}/tools/check_oracle.py", fixtures,
         f"{work}/oracle"], capture_output=True, text=True,
        stdin=subprocess.DEVNULL, env=dict(os.environ, TMPDIR=f"{work}/tmp"))
    bad = {line.split()[1].rstrip(":") for line in proc.stdout.splitlines()
           if line.startswith("FAIL ")}
    if proc.returncode != 0 and not bad:
        sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-2000:])
        die("oracle check did not run")
    return bad, proc.stdout


def wrong_ops(res, work, fixtures, crawl_dir, batches):
    """Names of ops whose output is wrong, and a one-line verdict."""
    if res["workload"] == "crawl_ingest":
        expected = crawlref.survivors(crawl_dir, batches)
        got = res["survivors"]
        bad = {"ingest_" + b.removeprefix("batch_") for b in batches
               if got.get(b) != expected[b]}
        bad |= set(res["warm_up_failures"])
        return bad, (f"crawl reference: {len(batches) - len(bad)}/{len(batches)} "
                     f"batches match, passes disagreeing: {res['mismatched_passes']}")
    bad, report = check_oracle(os.getcwd(), fixtures, work)
    bad |= set(res["warm_up_failures"])
    return bad, report.strip().splitlines()[-1]


def tail_index(n):
    """Index, in n sorted op times, of the highest percentile with at
    least ten times beyond it. With 21 op times or fewer that percentile
    is at or below the median, or there is none, so the slowest op."""
    return n - 11 if n > 21 else n - 1


def end_to_end(res, samples):
    by_op, by_pass = {}, {}
    for s in samples:
        by_op.setdefault(s["op"], []).append(s["s"])
        by_pass.setdefault(s["pass"], []).append(s["s"])
    med = {op: median(ts) for op, ts in by_op.items()}
    times = sorted(s["s"] for s in samples)
    # the tail is taken per pass, so that its percentile does not depend
    # on how many passes fit in the run's seconds
    tails = [sorted(ts)[tail_index(len(ts))] for ts in by_pass.values()]
    peaks = [p["storage_peak_bytes"] / MB for p in res["passes"]]
    metrics = {
        "setup_s": (res["setup_s"], "s"),
        "total_s": (sum(med.values()), "s"),
        "op_p50_s": (median(times), "s"),
        "op_tail_s": (median(tails), "s"),
        "geomean_s": (math.exp(statistics.fmean(math.log(v) for v in med.values()))
                      if med else float("nan"), "s"),
        "storage_peak_mb": (median(peaks), "MB"),
    }
    n = min((len(ts) for ts in by_pass.values()), default=0)
    i = tail_index(n)
    where = (f"p{100.0 * (i + 1) / n:.1f} of the {n} op times of a pass, "
             f"{n - i - 1} beyond it" if i < n - 1 else
             f"the slowest of the {n} op times of a pass")
    notes = {"op_tail_s": f"{where}; median over {len(tails)} passes"
             if n else "no samples"}
    return metrics, notes


LAYER_FIELDS = [
    ("sources.load_s", "s"), ("sources.load_jobs", "count"),
    ("sources.scan_mb", "MB"), ("sources.scan_rows", "count"),
    ("sources.store_write_s", "s"), ("sources.store_write_mb", "MB"),
    ("sources.store_read_s", "s"),
    ("construct.s", "s"), ("construct.self_s", "s"), ("construct.jobs", "count"),
    ("materialize.pins", "count"), ("materialize.s", "s"),
    ("materialize.mb", "MB"),
    ("plan.s", "s"), ("plan.executions", "count"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_s", "s"),
    ("exec.single_task_stages", "count"), ("exec.shuffle_read_mb", "MB"),
    ("exec.shuffle_write_mb", "MB"), ("exec.spill_mb", "MB")]
KERNELS = ["jaro_winkler", "md5_prefix32", "shingle_strings", "minhash_oph",
           "normalize_text", "bpe_token_count", "cosine"]


def rows_out(res, work):
    """Rows one pass hands to its sink: the row counts of the dumped
    query outputs, or the survivors of every crawl batch."""
    if res["workload"] == "crawl_ingest":
        return sum(len(ids) for ids in res["survivors"].values())
    return sum(pq.read_metadata(f).num_rows
               for f in glob.glob(f"{work}/oracle/*/*.parquet"))


def per_layer(res, samples, work):
    """Per-pass sums of each op's layer fields, median over passes."""
    by_pass = {}
    for s in samples:
        s = dict(s, **{"construct.s": s["construct_s"], "exec.s": s["exec_s"]})
        by_pass.setdefault(s["pass"], []).append(s)
    def over_passes(f):
        return median([f(ss) for ss in by_pass.values()])
    cores = res["cores"]
    metrics = {name: (over_passes(lambda ss, k=name: sum(x[k] for x in ss)), unit)
               for name, unit in LAYER_FIELDS}
    metrics["exec.rows_out"] = (rows_out(res, work), "count")
    metrics["exec.busy_frac"] = (over_passes(
        lambda ss: sum(x["all_task_s"] for x in ss)
        / (cores * sum(x["s"] for x in ss))), "ratio")
    metrics["sources.index_rows"] = (median([p["index_rows"] for p in res["passes"]]), "count")
    metrics["sources.index_files"] = (median([p["index_files"] for p in res["passes"]]), "count")
    for k in KERNELS:
        metrics[f"functions.{k}.rows_per_s"] = (res["kernels"][f"functions.{k}.rows_per_s"], "1/s")
    metrics["trace.total_s"] = (over_passes(lambda ss: sum(x["s"] for x in ss)), "s")
    metrics["trace.gap_s"] = (over_passes(lambda ss: sum(
        x["s"] - x["jobs_covered_s"] - x["plan.s"] for x in ss)), "s")
    return metrics


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    root = os.getcwd()
    if a.workload not in WORKLOADS:
        die(f"unknown workload {a.workload!r}; one of {', '.join(WORKLOADS)}")
    missing = [p for p in REQUIRED if not os.path.exists(f"{root}/{p}")]
    if missing:
        die("run from the root of the repository; missing " + ", ".join(missing))

    build_dir = f"{root}/.bench_build"
    os.makedirs(build_dir, exist_ok=True)
    classpath = build(root, build_dir)
    fixtures = datagen.ensure(f"{build_dir}/data", SCALE)

    setup_start = time.time()
    work = f"{build_dir}/runs/{a.workload}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    crawl_dir, batches = f"{work}/crawl_input", []
    if a.workload == "crawl_ingest":
        corpus = datagen.ensure_documents(f"{build_dir}/data", CRAWL_SCALE)
        batches = datagen.make_crawl(corpus, crawl_dir, a.seed, **CRAWL)
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") \
        else os.cpu_count()
    deadline = setup_start + RUN_BUDGET_S
    res = run_jvm(classpath, [a.workload, a.seed, a.seconds, a.trace, fixtures,
                              work, cores, crawl_dir] + batches, work, deadline)

    jvm_done = time.time()
    bad_ops, verdict = wrong_ops(res, work, fixtures, crawl_dir, batches)
    check_s = time.time() - jvm_done
    failed_samples = len(res["op_failures"])
    bad_passes = set(res.get("mismatched_passes", []))
    good = [s for s in res["samples"]
            if s["op"] not in bad_ops and s["pass"] not in bad_passes]
    failed = failed_samples + len(res["samples"]) - len(good)
    attempted = res["attempted"]
    correct = failed == 0 and not bad_ops

    w = a.workload
    print(f"{w}: {attempted} ops in {len(res['passes'])} passes over "
          f"{res['measured_s']:.1f} s, {cores} cores, seed {a.seed}")
    print(f"{w}: wall: jvm {jvm_done - setup_start:.1f} s (set-up "
          f"{res['setup_s']:.1f} s, warm-up {res['warm_up_s']:.1f} s, "
          f"measured {res['measured_s']:.1f} s), check {check_s:.1f} s")
    print(f"{w}: correctness: {verdict}")
    print(f"{w}: failed_frac = {failed / attempted:.4f} ({failed}/{attempted})")
    if a.trace:
        metrics = per_layer(res, good, work)
        trace_dir = f"{build_dir}/trace"
        os.makedirs(trace_dir, exist_ok=True)
        spans = f"{trace_dir}/{w}-seed{a.seed}-{time.strftime('%Y%m%dT%H%M%S')}.json"
        with open(spans, "w") as fh:
            json.dump({"samples": res["samples"], "passes": res["passes"],
                       "kernels": res["kernels"]}, fh)
        print(f"{w}: spans written to {spans}")
    else:
        metrics, notes = end_to_end(res, good)
        for k, note in notes.items():
            print(f"{w}: {k}: {note}")
    for k, (v, unit) in metrics.items():
        print(f"{w}: {k} = {v:.6g} {unit}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
