#!/usr/bin/env python3
"""Crawl-and-query benchmark for the spiderspark engine.

One run: build the harness if the sources changed, generate the workload's
inputs from --seed, run the workload in one JVM (Spark local[n], n = number
of cores), check the outputs, write an artifact under
.bench_build/artifacts/, print every metric by name with its unit, and
print as the last line one JSON object:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics. See perfbench/README.md.

Usage:
  python3 perfbench/run.py --workload crawl_deep|crawl_wide|query_suite \\
      --seed N --seconds S --trace 0|1 [--toy] [--suite all]
      [--fault drop-record|drop-row|throw]
"""
import argparse
import datetime
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("crawl_deep", "crawl_wide", "query_suite")
DEADLINE_S = 170  # a run must end within 180 s, not counting a build

# End-to-end metrics every workload reports (BENCHMARK.json end_to_end), and
# the workload metric each one is on that workload.
END_TO_END = {
    "setup_s": ("s", {"crawl_deep": "setup_s", "crawl_wide": "setup_s",
                      "query_suite": "setup_s"}),
    "op_s": ("s", {"crawl_deep": "crawl_s", "crawl_wide": "crawl_s",
                   "query_suite": "suite_s"}),
    "step_geomean_s": ("s", {"crawl_deep": "wave_geomean_s",
                             "crawl_wide": "wave_geomean_s",
                             "query_suite": "query_geomean_s"}),
}
# Per-layer metrics every workload's traced run reports
# (BENCHMARK.json per_layer).
PER_LAYER = {
    "spark.task_s": "s",
    "spark.slot_busy_frac": "ratio",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.peak_exec_mem_mb": "MB",
    "spark.jobs": "count",
    "spark.driver_gap_frac": "ratio",
    "driver.heap_after_gc_mb": "MB",
}
QUERY_SF = {False: 0.01, True: 0.001}  # table scale: full, toy


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_stamp():
    """Hash of everything the harness build reads."""
    h = hashlib.sha256()
    files = []
    for pat in ("build.sbt", "project/build.properties", "src/main/**/*",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src/**/*"):
        files += glob.glob(os.path.join(ROOT, pat), recursive=True)
    for f in sorted(set(files)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt unless the stamp matches; returns
    the launch file: classpath line, then one JVM option per line."""
    launch = os.path.join(BUILD, "launch.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = sources_stamp()
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return launch
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "writeLaunch"], HERE, out, 850)
    if rc != 0 or not os.path.exists(launch):
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"harness build failed (exit {rc}):\n{tail}", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return launch


def run_child(cmd, cwd, out, timeout, env=None):
    """Run a child in its own process group; on timeout kill the group and
    wait for it. Returns the exit code (None on timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                         start_new_session=True, env=env)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def cpu_ticks():
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return vals[7] if len(vals) > 7 else 0, sum(vals[:8])
    except OSError:
        return 0, 0


def heap_gb():
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
        return max(2, min(4, kb // (4 * 1048576)))
    except (OSError, StopIteration, ValueError):
        return 2


def summary(xs):
    """Median, quartiles and count, as statistics.quantiles gives them."""
    xs = [x for x in xs if x is not None]
    if not xs:
        return None
    s = {"n": len(xs), "median": statistics.median(xs), "min": min(xs),
         "max": max(xs)}
    if len(xs) >= 2:
        q = statistics.quantiles(xs, n=4)
        s["q1"], s["q3"] = q[0], q[2]
    return s


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true",
                    help="shrink every input (self-test)")
    ap.add_argument("--suite", default="cross_section",
                    choices=("cross_section", "all"),
                    help="query_suite: the timed cross-section or all queries")
    ap.add_argument("--fault", choices=("drop-record", "drop-row", "throw"),
                    help="corrupt one output or make the first crawl throw, "
                    "to show the check catches it")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources under {ROOT}: run from a full checkout")
    launch = build()
    t_start = time.monotonic()  # the 180 s limit starts after a build
    with open(launch) as f:
        lines = [l.strip() for l in f if l.strip()]
    classpath, jvm_opts = lines[0], lines[1:]

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        doc = run(a, classpath, jvm_opts, run_dir, t_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    report(a, doc, tag)


def run(a, classpath, jvm_opts, run_dir, t_start):
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(len(os.sched_getaffinity(0))), "--out", run_dir,
            "--toy", "1" if a.toy else "0"]
    if a.fault in ("drop-record", "throw"):
        args += ["--fault", a.fault]
    if a.workload == "query_suite":
        sys.path.insert(0, HERE)
        import tables
        data = os.path.join(run_dir, "tables")
        # the benchmark's own input generation, outside the engine's set-up
        t = time.perf_counter()
        tables.write(data, a.seed, QUERY_SF[a.toy])
        gen_s = time.perf_counter() - t
        args += ["--data", data, "--suite", a.suite]

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{heap_gb()}g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           *jvm_opts, "-cp", classpath, "perfbench.Main", *args]
    steal0, total0 = cpu_ticks()
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        remaining = DEADLINE_S - (time.monotonic() - t_start)
        # Spark's local directories stay in the run directory even where the
        # environment names another
        env = dict(os.environ,
                   SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
        rc = run_child(cmd, run_dir, out, max(10, remaining), env)
    steal1, total1 = cpu_ticks()
    result = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result):
        with open(log) as f:
            tail = f.read()[-4000:]
        fail(f"{a.workload} run failed (exit {rc}):\n{tail}", 4)
    with open(result) as f:
        doc = json.load(f)
    if a.workload == "query_suite":
        doc["inputs"]["sf"] = QUERY_SF[a.toy]
        doc["inputs"]["tables_gen_s"] = gen_s
        # the inputs but for the seed: runs of one shape compare
        doc["inputs"]["shape"] = f"{a.suite} sf {QUERY_SF[a.toy]}"

    if a.workload == "query_suite":
        import oracle
        out_dir = os.path.join(run_dir, "query-out")
        names = [q for q in doc["inputs"]["query_names"]
                 if os.path.isdir(os.path.join(out_dir, q))]
        if a.fault == "drop-row" and names:
            oracle.drop_one_row(out_dir, names[0])
        bad = oracle.compare(os.path.join(run_dir, "tables"), out_dir, names)
        # a query that ran but disagrees with its oracle fails too
        doc["failed"] += len(bad)
        doc["errors"] += [f"{q}: {why}" for q, why in sorted(bad.items())]
        doc["correct"] = not doc["errors"]
        doc["metrics"]["failed_frac"]["value"] = \
            doc["failed"] / max(1, doc["attempted"])
    dt = total1 - total0
    doc["steal_frac"] = (steal1 - steal0) / dt if dt > 0 else 0.0
    doc["wall_s"] = time.monotonic() - t_start
    if a.trace:
        with open(os.path.join(run_dir, "spans.jsonl")) as f:
            doc["spans"] = f.read()
    return doc


def overhead(a, doc, art_dir):
    """Tracing overhead: the traced operation's time minus the median of
    the same operation in the untraced runs of this workload and input
    shape found among the artifacts. Both are a run's first operation,
    after the same set-up."""
    op = END_TO_END["op_s"][1][a.workload]
    traced = doc["metrics"].get(f"trace.{op}_traced", {}).get("value")
    base = []
    for f in glob.glob(os.path.join(art_dir, f"{a.workload}-seed*-trace0-*.json")):
        with open(f) as fh:
            art = json.load(fh)
        if (art["correct"]
                and art["inputs"].get("shape") == doc["inputs"]["shape"]
                and art["metrics"].get(op, {}).get("value") is not None):
            base.append(art["metrics"][op]["value"])
    if traced is None or not base:
        note = "needs an untraced run of this workload first"
        value = None
    else:
        note = f"against the median {op} of {len(base)} untraced runs"
        value = traced - statistics.median(base)
    doc["metrics"]["trace.overhead_s"] = {
        "value": value, "unit": "s", "samples": [], "note": note}


def report(a, doc, tag):
    m = doc["metrics"]
    # a metric is missing, or null, only when its operations all failed
    value = lambda k: m.get(k, {}).get("value")
    if a.trace:
        gate = {k: {"value": value(k), "unit": u}
                for k, u in PER_LAYER.items()}
    else:
        gate = {k: {"value": value(src[a.workload]), "unit": u}
                for k, (u, src) in END_TO_END.items()}

    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%SZ")
    art_dir = os.path.join(BUILD, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    if a.trace:
        overhead(a, doc, art_dir)
    base = os.path.join(art_dir, f"{tag}-{stamp}")
    spans = doc.pop("spans", None)
    if spans is not None:
        with open(base + "-spans.jsonl", "w") as f:
            f.write(spans)
    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": bool(a.trace), "toy": a.toy, "cores": doc["cores"],
        "correct": doc["correct"], "attempted": doc["attempted"],
        "failed": doc["failed"], "errors": doc["errors"],
        "steal_frac": doc["steal_frac"], "wall_s": doc["wall_s"],
        "inputs": doc["inputs"],
        "gate": gate,
        "metrics": {k: {**v, "summary": summary(v["samples"])}
                    for k, v in m.items()},
    }
    with open(base + ".json", "w") as f:
        json.dump(artifact, f, indent=1)

    for k, v in m.items():
        note = f"  ({v['note']})" if v["note"] else ""
        shown = "n/a" if v["value"] is None else f"{v['value']:.6g}"
        print(f"{k} {shown} {v['unit']}{note}")
    print(f"steal_frac {doc['steal_frac']:.4f} ratio")
    for e in doc["errors"][:20]:
        print(f"error: {e}")
    print(f"artifact {os.path.relpath(base, ROOT)}.json")
    print(json.dumps({"correct": doc["correct"], "attempted": doc["attempted"],
                      "failed": doc["failed"], "metrics": gate}))


if __name__ == "__main__":
    main()
