#!/usr/bin/env python3
"""Benchmark of the reference log job (lines -> parse -> dim join ->
Q1-Q3 -> keyed upsert sinks), driven through the engine's public seams.

Usage, from the repository root:

    python3 perfbench/run.py --workload live_ref --seed 1 --seconds 16 --trace 0

Workloads (see ``stream.WORKLOADS``):

- ``live_ref``      open loop: 300-line files land every 0.1 s (3 000
                    lines/s) while ``run_log_job`` runs with its default
                    trigger; reference-like key cardinality. The first
                    15 s of landings carry the JVM through its JIT
                    warm-up and are checked but not timed; the next
                    ``--seconds`` are the measured window.
- ``catchup_wide``  closed loop: a pre-landed 64 000-line backlog with
                    wide Zipf keys is drained by ``run_log_job(
                    available_now=True)``: one untimed warm drain, then
                    timed drains (at least three) until ``--seconds``
                    are used.

End-to-end metrics: ``setup_s`` (session boot plus the median of two
dim loads + warm micro-batches), ``result_latency_p50_s``/``_p90_s`` (per file:
end of the last of the three sink calls whose batch held it, minus the
file's scheduled landing; a backlog file is due when the drain starts,
and the figure is the median over drains) and ``lines_per_s`` (lines
due in the measured window / time from its start until the last of them
is in all three sinks; on ``catchup_wide`` the median over drains).
Failed operations -- a file that never reaches all three sinks, a sink
table that differs from the generator's ground truth -- are counted in
``failed`` out of ``attempted``.

With ``--trace 0`` the last stdout line is one JSON object holding the
end-to-end metrics; with ``--trace 1`` it holds the per-layer metrics of
a traced run, and the full trace (progress events, spans, event-log
fold) is written to ``.perfbench_work/trace-<workload>-<seed>.json``.
Every run appends its record, including generator lateness and host
load, to ``.perfbench_work/history.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = min(4, os.cpu_count() or 1)
DRIVER_MEM = "4g"


def isolate_environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and pin the knobs the host environment could otherwise change."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    import tempfile

    tempfile.tempdir = tmp
    os.chdir(work)


def result_line(res: dict, traced: bool) -> dict:
    metrics = res["layers"] if traced else res["e2e"]
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import stream

    if args.workload not in stream.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(stream.WORKLOADS)}")
    os.makedirs(WORK, exist_ok=True)
    isolate_environment(WORK)
    # The engine is the program under test: fail here, before any
    # work, when it is not importable.
    import flink_log_analysis_spark  # noqa: F401

    traced = bool(args.trace)
    try:
        res = stream.run(args.workload, args.seed, args.seconds, traced, WORK, CORES)
    finally:
        stream.shutdown_jvm()
    rec = dict(res["record"], time=time.time(), attempted=res["attempted"],
               failed=res["failed"])
    with open(os.path.join(WORK, "history.jsonl"), "a") as f:
        f.write(json.dumps(rec, default=str) + "\n")
    if rec["flagged"]:
        print(f"perfbench: host misbehaved during this run: load_start="
              f"{rec['load_start']:.2f} steal_share={rec['steal_share']:.3f} "
              f"gen_late_max_s={rec['gen_late_max_s']:.3f}", file=sys.stderr)
    print(json.dumps(result_line(res, traced)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
