#!/usr/bin/env python3
"""Self-test for the benchmark, at toy input sizes.

1. Each workload (crawl_deep, crawl_wide, query_suite) runs untraced: it
   must pass its correctness check and print every named metric with its
   unit, and the last line must carry every end-to-end metric.
2. crawl_deep and query_suite run traced: every per-layer metric must print
   with its unit, and the run must leave its spans.
3. A deliberately wrong result must fail the check: one dropped crawl
   record, one dropped query output row. A crawl that throws must count
   as a failed operation while the run goes on and reports.
4. In a directory holding only BENCHMARK.json and perfbench/, the
   benchmark must exit non-zero without printing a result.

Usage: python3 perfbench/selftest.py   (takes several minutes)
"""
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import run  # noqa: E402

CRAWL = {"setup_s": "s", "crawl_s": "s", "crawl_urls_per_s": "URLs/s",
         "wave_p50_s": "s", "wave_geomean_s": "s", "wave_tail_s": "s",
         "store_bytes_per_url": "B/URL", "failed_frac": "ratio"}
NAMED = {
    "crawl_deep": {**CRAWL, "resume_s": "s"},
    "crawl_wide": CRAWL,
    "query_suite": {"setup_s": "s", "suite_s": "s", "query_p50_s": "s",
                    "query_geomean_s": "s", "query_p80_s": "s",
                    "failed_frac": "ratio"},
}
SPARK = {"spark.task_s": "s", "spark.slot_busy_frac": "ratio",
         "spark.shuffle_read_bytes": "B", "spark.shuffle_write_bytes": "B",
         "spark.spill_bytes": "B", "spark.gc_s": "s",
         "spark.peak_exec_mem_mb": "MB", "driver.heap_after_gc_mb": "MB",
         "trace.overhead_s": "s"}
LAYERS = {
    "crawl_deep": {**SPARK,
        "crawl.jobs_per_wave": "count", "crawl.driver_gap_frac": "ratio",
        "crawl.wave_growth_s": "s/wave",
        "frontier.schedule_s": "s", "frontier.rows_in": "count",
        "frontier.scheduled": "count", "frontier.scheduled_frac": "ratio",
        "frontier.shuffle_bytes": "B",
        "fetch.join_s": "s", "fetch.rows": "count", "fetch.html_bytes": "B",
        "fetch.shuffle_bytes": "B", "fetch.peak_exec_mem_mb": "MB",
        "fetch.status_ok": "count", "fetch.status_retry": "count",
        "fetch.status_missing": "count",
        "parse.s": "s", "parse.pages": "count", "parse.bytes": "B",
        "parse.records": "count", "parse.links": "count",
        "url.canon_s": "s", "url.links": "count",
        "seen.filter_s": "s", "seen.candidates": "count",
        "seen.bloom_positive": "count", "seen.exact_hits": "count",
        "seen.new": "count", "seen.bloom_fpr": "ratio",
        "seen.delta_tables": "count",
        "store.commit_s": "s", "store.bytes_written": "B",
        "store.files_written": "count", "store.chain_walk_s": "s",
        "store.footer_read_s": "s"},
    "query_suite": {**SPARK, "operators.edge_derive_s": "s",
                    "operators.codebook_train_s": "s",
                    "operators.q01_pivot_counts_s": "s"},
}


def bench(*args, cwd=ROOT, script=None):
    cmd = [sys.executable, script or os.path.join(HERE, "run.py"), *args]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                       timeout=900)
    return p.returncode, p.stdout, p.stderr


def printed(stdout):
    """{name: unit} of the `name value unit` lines."""
    out = {}
    for line in stdout.splitlines():
        m = re.match(r"^(\S+) (-?[\d.e+-]+|nan|inf) (\S+)", line)
        if m:
            out[m.group(1)] = m.group(3)
    return out


def last_json(stdout):
    return json.loads(stdout.strip().splitlines()[-1])


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    return cond


def main():
    ok = True
    for w in ("crawl_deep", "crawl_wide", "query_suite"):
        rc, out, err = bench("--workload", w, "--seed", "7", "--seconds", "1",
                             "--trace", "0", "--toy")
        if not check(rc == 0, f"{w}: runs (exit {rc})"):
            print(err[-2000:])
            ok = False
            continue
        res = last_json(out)
        ok &= check(res["correct"] and res["failed"] == 0,
                    f"{w}: outputs match the reference")
        ok &= check({k: v["unit"] for k, v in res["metrics"].items()} ==
                    {k: u for k, (u, _) in run.END_TO_END.items()},
                    f"{w}: last line carries every end-to-end metric")
        shown = printed(out)
        missing = {k: u for k, u in NAMED[w].items() if shown.get(k) != u}
        ok &= check(not missing, f"{w}: named metrics printed with units"
                    + (f" (missing {missing})" if missing else ""))

    for w in ("crawl_deep", "query_suite"):
        rc, out, err = bench("--workload", w, "--seed", "7", "--seconds", "1",
                             "--trace", "1", "--toy")
        if not check(rc == 0, f"{w} traced: runs (exit {rc})"):
            print(err[-2000:])
            ok = False
            continue
        res = last_json(out)
        ok &= check(res["correct"], f"{w} traced: outputs match")
        ok &= check(set(res["metrics"]) == set(run.PER_LAYER),
                    f"{w} traced: last line carries every per-layer metric")
        shown = printed(out)
        missing = {k: u for k, u in LAYERS[w].items() if shown.get(k) != u}
        ok &= check(not missing, f"{w} traced: layer metrics printed"
                    + (f" (missing {missing})" if missing else ""))
        art = next(l.split()[1] for l in out.splitlines()
                   if l.startswith("artifact "))
        spans = os.path.join(ROOT, art[:-len(".json")] + "-spans.jsonl")
        ok &= check(os.path.exists(spans) and os.path.getsize(spans) > 0,
                    f"{w} traced: spans written")

    for w, fault in (("crawl_deep", "drop-record"), ("crawl_deep", "throw"),
                     ("query_suite", "drop-row")):
        rc, out, err = bench("--workload", w, "--seed", "7", "--seconds", "1",
                             "--trace", "0", "--toy", "--fault", fault)
        res = last_json(out) if rc == 0 else {"correct": True, "failed": 0}
        ok &= check(not res["correct"] and res["failed"] >= 1,
                    f"{w}: a {fault} fault fails the check")
        if fault == "throw":
            ok &= check(rc == 0 and res["attempted"] > res["failed"]
                        and all(v["value"] for v in res["metrics"].values()),
                        f"{w}: after a {fault} the run goes on and reports")

    bare = os.path.join(run.BUILD, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, out, _ = bench("--workload", "crawl_deep", "--seed", "1",
                       "--seconds", "1", "--trace", "0", cwd=bare,
                       script=os.path.join(bare, "perfbench", "run.py"))
    shutil.rmtree(bare, ignore_errors=True)
    ok &= check(rc != 0 and "correct" not in out,
                "without the engine sources: non-zero exit, no result")

    print("self-test " + ("passed" if ok else "FAILED"))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
