#!/usr/bin/env python3
"""Summarize benchmark records into the two per-layer tables.

    python3 perfbench/report.py [results_dir]

Reads the run records ``perfbench/run.py`` leaves in
``.perfbench_work/results/`` and prints, from the traced runs:

1. wall time and Spark jobs per pipeline stage on ``lifecycle``;
2. the parse-leaf split: frontend and expression-EOG time (from the
   single-core microbenchmark, times the spans the leaf parsed) against
   the leaf's measured CPU time, the rest being row building,
   pandas and Arrow;
3. the tracing overhead: traced ``docs_per_s`` against the median of the
   untraced runs of the same workload.

Each table is printed next to the reference figures the project roadmap
recorded (2,000 docs, stages run sequentially, leaf measured
single-threaded), so differences are visible.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

STAGES = ["parse", "link", "dfg_refine", "materialize"]
# roadmap reference: 2,000 docs, 4 cores, CPG_SPARK_SEQUENTIAL=1
ROADMAP_STAGE_S = {"parse": 6.8, "link": 30.8, "dfg_refine": 5.9,
                   "materialize": 5.8}
ROADMAP_JOBS = 95
ROADMAP_LEAF = {"frontend": 0.41, "eog": 0.05, "rest": 0.54}


def _value(rec: dict, name: str):
    m = rec["metrics"].get(name)
    return m["value"] if m else None


def load(results_dir: str) -> list[dict]:
    recs = []
    paths = glob.glob(os.path.join(results_dir, "*.json"))
    for path in sorted(paths, key=os.path.getmtime):
        with open(path) as fh:
            recs.append(json.load(fh))
    return recs


def stage_table(rec: dict) -> list[str]:
    cores = rec["context"]["cpus_usable"]
    lines = [f"### lifecycle stages (seed {rec['seed']}, "
             f"{rec['inputs']['docs']} docs, local[{cores}], production "
             f"concurrency)", "",
             "| stage | wall s | jobs | driver gap s | slot busy | "
             "roadmap wall s (2,000 docs, sequential) |",
             "|---|---|---|---|---|---|"]
    total = 0
    for st in STAGES:
        jobs = _value(rec, f"{st}.jobs")
        total += jobs
        lines.append(
            f"| {st} | {_value(rec, f'{st}.wall_s'):.1f} | {jobs} | "
            f"{_value(rec, f'{st}.driver_gap_s'):.1f} | "
            f"{_value(rec, f'{st}.slot_busy'):.2f} | "
            f"{ROADMAP_STAGE_S[st]} |")
    lines += ["", f"Pipeline jobs: {total} (roadmap: {ROADMAP_JOBS}); "
              f"link jobs submitted by Spark itself (AQE stages, broadcast "
              f"exchanges): {_value(rec, 'link.async_jobs')}, of them "
              f"broadcast exchanges: {_value(rec, 'link.broadcast_jobs')}.",
              "", f"Update phase ({rec['inputs']['delta_docs']} delta docs): "
              f"{_value(rec, 'incremental.delta_s'):.1f} s; parse_docs "
              f"{_value(rec, 'incremental.parse.wall_s'):.1f} s in "
              f"{_value(rec, 'incremental.parse.jobs')} jobs, "
              f"incremental_link {_value(rec, 'incremental.link.wall_s'):.1f}"
              f" s in {_value(rec, 'incremental.link.jobs')} jobs "
              f"(driver gap {_value(rec, 'incremental.link.driver_gap_s'):.1f}"
              f" s)."]
    return lines


def leaf_table(rec: dict) -> list[str]:
    """Shares of the leaf's CPU.  The roadmap column compares the warm
    Python part only (no JVM task time, no worker start-up), which is
    what the roadmap measured single-threaded."""
    leaf = rec["parse_leaf"]
    cpu, jvm = leaf["leaf_cpu_s"], leaf["jvm_cpu_s"]
    start = leaf["worker_start_cpu_s"]
    fb = rec["frontends"]["per_lang"]
    fe = eog = 0.0
    for kind, n in leaf["parses"].items():
        per = fb[kind.split("/", 1)[1]]
        fe += n * per["frontend_ms"] / 1000
        eog += n * per["eog_ms"] / 1000
    warm = cpu - jvm - start
    rest = warm - fe - eog
    rows = [("frontend", fe, ROADMAP_LEAF["frontend"]),
            ("expression EOG", eog, ROADMAP_LEAF["eog"]),
            ("rows, pandas, Arrow (Python side)", rest, ROADMAP_LEAF["rest"])]
    lines = [f"### parse leaf, {rec['workload']} (seed {rec['seed']}, "
             f"{rec['inputs']['docs']} docs, leaf CPU {cpu:.1f} s, "
             f"{leaf['workers_started']} Python workers started)", "",
             "| part | CPU s | share of leaf | share of warm Python part | "
             "roadmap |", "|---|---|---|---|---|"]
    for name, sec, ref in rows:
        lines.append(f"| {name} | {sec:.2f} | {sec / cpu:.0%} | "
                     f"{sec / warm:.0%} | {ref:.0%} |")
    lines += [f"| Python worker start (imports) | {start:.2f} | "
              f"{start / cpu:.0%} | - | - |",
              f"| JVM tasks (scan, Arrow, write) | {jvm:.2f} | "
              f"{jvm / cpu:.0%} | - | - |",
              "", f"Leaf CPU per doc: {_value(rec, 'parse.cpu_ms_per_doc'):.1f}"
              f" ms; rows: {_value(rec, 'parse.rows')}."]
    return lines


def overhead(recs: list[dict], workload: str) -> list[str]:
    plain = [_value(r, "docs_per_s") for r in recs
             if r["workload"] == workload and not r["trace"]]
    traced = [_value(r, "trace.docs_per_s") for r in recs
              if r["workload"] == workload and r["trace"]]
    if not plain or not traced:
        return []
    p, t = statistics.median(plain), statistics.median(traced)
    return [f"Tracing overhead, {workload}: traced {t:.2f} docs/s "
            f"(median of {len(traced)}) vs untraced {p:.2f} docs/s "
            f"(median of {len(plain)}): {1 - t / p:+.1%}."]


def main(argv: list[str]) -> int:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    results = argv[0] if argv else os.path.join(root, ".perfbench_work",
                                                "results")
    recs = load(results)
    # the latest traced record of each workload
    traced = {r["workload"]: r for r in recs if r["trace"]}
    if not traced:
        print(f"no traced records in {results}", file=sys.stderr)
        return 1
    out: list[str] = []
    if "lifecycle" in traced:
        out += stage_table(traced["lifecycle"]) + [""]
    for wl in ("stream_ingest", "lifecycle"):
        if wl in traced:
            out += leaf_table(traced[wl]) + [""]
    for wl in ("lifecycle", "stream_ingest"):
        out += overhead(recs, wl)
    print("\n".join(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
