#!/usr/bin/env python3
"""crawlspark benchmark.

    python3 perfbench/run.py --workload crawl_rounds|corpus_prep \\
        --seed N --seconds S --trace 0|1

Run from the repository root. One single-process Spark application at
local[<available cores>] runs one workload against the public entry
points of ``crawlspark`` (workload descriptions: wl_crawl.py,
wl_corpus.py), checks every operation's output against an oracle, and
prints two JSON lines on stdout:

1. run details: CPU-drift marker (single-thread md5/s, from bench.py)
   at start and end, set-up samples, per-operation wall time, items,
   Spark jobs/stages/tasks and check outcome, and for traced runs the
   per-span breakdown and which end-to-end metric each per-layer metric
   should move;
2. the result: ``{"correct", "attempted", "failed", "metrics"}`` with
   every end-to-end metric (``--trace 0``) or every per-layer metric
   (``--trace 1``; layers a workload does not exercise read 0).

End-to-end metrics (untraced run):
  setup_s        one cold set-up: JVM launch and SparkSession start,
                 input load and engine construction; input generation
                 and oracles are excluded
  op_s_p50       median wall time of one operation (a crawl round /
                 a corpus pass after the warm-up pass)
  items_per_s    items of passing operations / total operation time
                 (pages fetched and extracted; documents in)
  op_fail_ratio  (failed + 1) / (attempted + 2) over operations that
                 raised or failed their check
  peak_rss_mb    peak resident memory of this process, the JVM and
                 the Python workers, summed as PSS (shared pages
                 divided among the processes sharing them)

``--seconds`` sizes the untraced runs: one crawl round per fifteen
seconds, or one corpus pass per ten seconds after a warm-up pass, at
least two either way.
Inputs and oracle results are built by prepare.py in a child process
that exits before measuring starts, and cached under .bench_cache/ by
(seed, size); every other file the run writes lives under .bench_work/
and is removed at exit. Exit status is non-zero, with no result line, when the
crawlspark sources are missing or the run cannot complete.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {"crawl_rounds": "wl_crawl", "corpus_prep": "wl_corpus"}
END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
    "items_per_s": "1/s",
    "op_fail_ratio": "ratio",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "scheduler.spark_jobs_per_round": "count",
    "scheduler.spark_stages_per_round": "count",
    "scheduler.spark_tasks_per_round": "count",
    "scheduler.self_s": "s",
    "parsers.link_extract_s": "s",
    "parsers.extract_s": "s",
    "parsers.pages_parsed": "count",
    "tableio.write_s.extracted": "s",
    "tableio.write_s.seen": "s",
    "tableio.write_s.seen_bloom": "s",
    "tableio.write_s.frontier": "s",
    "tableio.write_s.crawl_log": "s",
    "tableio.read_s": "s",
    "tableio.files_per_round": "count",
    "tableio.bytes_per_round": "bytes",
    "tableio.manifest_bytes": "bytes",
    "warehouse.merge_round_s": "s",
    "urlnorm.canonicalize_s": "s",
    "bloom.build_s": "s",
    "bloom.update_s": "s",
    "bloom.dedup_s": "s",
    "politeness.robots_s": "s",
    "politeness.pop_s": "s",
    "politeness.popped_rows": "count",
    "politeness.contended_hosts": "count",
    "corpusops.pii_redact_s": "s",
    "corpusops.repetition_s": "s",
    "corpusops.boilerplate_s": "s",
    "corpusops.hash_sample_s": "s",
    "textops.exact_dedup_s": "s",
    "textops.lsh_pairs_s": "s",
    "textops.dup_clusters_s": "s",
    "textops.lsh_candidate_pairs": "count",
    "textops.lsh_verified_ratio": "ratio",
    "corpus.spark_tasks_per_pass": "count",
    "trace.overhead_s": "s",
}


def end_to_end(res: dict, peak_rss: int, harness) -> dict:
    timed = [
        o for o in res["ops"]
        if o.get("engine", "A") == "A" and o.get("kind") != "W" and "op_s" in o
    ]
    op_s = [o["op_s"] for o in timed]
    items = sum(o["items"] for o in timed if o["ok"])
    attempted = len(res["ops"])
    failed = sum(1 for o in res["ops"] if not o["ok"])
    values = {
        "setup_s": res["setup_s"],
        "op_s_p50": harness.median(op_s),
        "items_per_s": items / sum(op_s) if op_s else 0.0,
        "op_fail_ratio": harness.fail_ratio(failed, attempted),
        "peak_rss_mb": peak_rss / 2**20,
    }
    return {k: harness.metric(v, END_TO_END[k]) for k, v in values.items()}


def per_layer(res: dict, harness) -> dict:
    layers = res["layers"]
    values = {}
    for name in PER_LAYER:
        got = [v[name] for v in layers if name in v]
        values[name] = sum(got) / len(got) if got else 0
    values["trace.overhead_s"] = harness.median(res["overhead"])
    return {k: harness.metric(v, PER_LAYER[k]) for k, v in values.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "crawlspark", "__init__.py")):
        print(f"crawlspark sources not found under {ROOT}", file=sys.stderr)
        return 2
    # sibling modules by name, the repository root for crawlspark,
    # __spark_entry__ and bench
    sys.path[:1] = [HERE, ROOT]
    import harness

    harness.isolate()
    session = harness.Session()
    try:
        # inputs and oracle results, built in a child process that has
        # exited before the measured process tree starts
        wl = importlib.import_module(WORKLOADS[args.workload])
        if not wl.Inputs(args.seed).ready():
            subprocess.run(
                [sys.executable, os.path.join(HERE, "prepare.py"),
                 WORKLOADS[args.workload], str(args.seed)],
                check=True, timeout=150,
            )
        marker_start = harness.cpu_marker()
        res = wl.run(args.seed, args.seconds, bool(args.trace), session)
        marker_end = harness.cpu_marker()
        session.close()

        attempted = len(res["ops"])
        failed = sum(1 for o in res["ops"] if not o["ok"])
        if args.trace:
            metrics = per_layer(res, harness)
        else:
            metrics = end_to_end(res, session.tree.peak, harness)
        for m in metrics.values():
            if not math.isfinite(m["value"]):
                raise RuntimeError(f"non-finite metric: {metrics}")
        details = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "cores": harness.cores(),
            "cpu_marker_md5_per_s": [marker_start, marker_end],
            "peak_rss_mb_parts": session.tree.peak_parts,
            "ops": res["ops"],
            "errors": res["errors"],
        }
        if args.trace:
            details["layer_targets"] = {
                k: f"{args.workload} -> {v}" for k, v in res["targets"].items()
            }
            details["spans"] = [v.pop("_spans", {}) for v in res["layers"]]
            details["trace_overhead_s"] = res["overhead"]
        print(json.dumps(details, default=str), flush=True)
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": metrics,
                }
            ),
            flush=True,
        )
        return 0
    finally:
        session.close()  # also when the run failed part-way
        harness.cleanup()

if __name__ == "__main__":
    sys.exit(main())
