#!/usr/bin/env python
"""Parse-path throughput microbench: raw combined-log lines/second.

The reference is a log-parsing streaming job; its per-node ceiling is
the parser. This measures the engine's full A2-A8 columnar parse chain
(one regex pass packing the 9 fields -> field cut -> status filter ->
date normalize -> id extract -> sentinel projection) on generated
lines, end to end, on local[$SPARK_GRAFT_CPUS].

Prints one JSON line: {"lines": N, "seconds": s, "mlines_per_s": x}.
Usage: python tools/throughput.py [--lines 2000000]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--lines", type=int, default=2_000_000)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from flink_log_analysis_spark import get_spark, logparse
    from flink_log_analysis_spark.sources.synthetic import generate_log_lines

    spark = get_spark("throughput")
    spark.sparkContext.setLogLevel("ERROR")

    # Seed corpus generated once, replicated to the target volume via
    # explode (keeps generation out of the measured path).
    seed_lines = generate_log_lines(20_000, seed=7)
    reps = max(1, args.lines // len(seed_lines))
    base = spark.createDataFrame([(ln,) for ln in seed_lines], "line string")
    df = (
        base.withColumn("_r", F.explode(F.sequence(F.lit(1), F.lit(reps))))
        .drop("_r")
        .repartition(spark.sparkContext.defaultParallelism)
        .cache()
    )
    n = df.count()  # materialize input outside the timed region

    # Multiple timed passes; the MEDIAN of the warm passes is reported
    # (pass 0 is the warm-up: HotSpot's compile queue can still be
    # draining the generated parse chain there, inflating it 5-100x,
    # measured). Median over min: min is best-case reporting — any
    # transient (page cache, GC luck) lowers it — while the median warm
    # pass is the steady-state rate a long-running job would sustain.
    # All passes are printed so the spread is auditable.
    passes = []
    for _ in range(4):
        t0 = time.perf_counter()
        logparse.parse_access_logs(df).write.format("noop").mode(
            "overwrite"
        ).save()
        passes.append(round(time.perf_counter() - t0, 3))
    warm = sorted(passes[1:])
    secs = warm[len(warm) // 2]

    print(
        json.dumps(
            {
                "lines": n,
                "seconds": secs,
                "mlines_per_s": round(n / secs / 1e6, 3),
                "passes": passes,
                "method": "median-of-warm-passes",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
