"""Per-layer metrics of a traced run.

A traced run measures its workload twice: first with tracing off, then
with the progress listener attached and the sinks wrapped for self
time; the difference of their end-to-end figures is the tracing
overhead (the event log is on for both, so it is not part of it). The
layers below are read off the traced measurement, from the benchmark's
own files around the calls into each layer:

- ``session``     boot of the SparkSession
- ``sources.io``  dims read from sqlite through ``read_dbapi_dim``
- ``source``      file-source progress and the per-batch file backlog
- ``logparse``    parses per landed line, keep ratio, and an isolated
                  replay of ``parse_access_logs`` into a noop sink
- ``batch``       the micro-batch ``durationMs`` parts
- ``state``       state-store rows, memory and commit time, per query
- ``upsert``      sink call time vs. write self time, rows, errors
- ``ops``         task metrics from the Spark event log, per query
- ``mem``       peak RSS of this process plus the JVM
- ``gen``/``host`` generator lateness, load average, hypervisor steal
- ``catchup``     the head of the same input drained at ``local[N]`` and
                  at ``local[1]``: the parallel efficiency, with its base
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from datetime import datetime

import observe
import stream

BATCH_PARTS = {
    "trigger_ms": "triggerExecution",
    "query_planning_ms": "queryPlanning",
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}
OPS = ("run_ms", "cpu_ms", "gc_ms", "shuffle_bytes", "spill_bytes", "tasks")
PARSE_REPLAYS = 3
# Lines drained for the local[1] baseline: enough to amortise the
# per-batch cost, few enough that one core drains them in ~10 s.
BASELINE_LINES = 50_000


def _wall_to_monotonic(stamp: str, offset: float) -> float:
    dt = datetime.fromisoformat(stamp.replace("Z", "+00:00"))
    return dt.timestamp() - offset


def spans(p: dict, events: list[dict], offset: float) -> list[dict]:
    """One span tree per landed file: landing -> batch per query ->
    sink call, sharing the file name as id."""
    batch_start = {
        (e["name"], e["batchId"]): _wall_to_monotonic(e["timestamp"], offset)
        for e in events
    }
    calls = {q: {c["batch"]: c for c in p["sinks"][q].calls} for q in stream.QUERIES}
    out = []
    for name, due in p["due"].items():
        out.append({"id": name, "span": "landing", "parent": None, "start": due,
                    "end": p.get("landed", {}).get(name, due)})
        for q in stream.QUERIES:
            b = p["maps"][q].get(name)
            c = calls[q].get(b)
            if c is None:
                continue
            out.append({"id": name, "span": f"batch.{q}", "parent": "landing",
                        "batch": b, "start": batch_start.get((q, b), c["start"]),
                        "end": c["end"]})
            out.append({"id": name, "span": f"sink.{q}", "parent": f"batch.{q}",
                        "batch": b, "start": c["start"], "end": c["end"],
                        "write_start": c["write_start"]})
    return out


def parse_replay(engine, src: str) -> tuple[float, int, int]:
    """Isolated ``parse_access_logs`` over the pass's lines into noop:
    (median lines/s of the warm replays, lines, rows kept)."""
    from flink_log_analysis_spark import logparse

    lines = engine.spark.read.text(src).withColumnRenamed("value", "line").cache()
    n = lines.count()
    kept = logparse.parse_access_logs(lines).count()
    times = []
    for _ in range(PARSE_REPLAYS):
        t = time.monotonic()
        logparse.parse_access_logs(lines).write.format("noop").mode("overwrite").save()
        times.append(time.monotonic() - t)
    lines.unpersist()
    return n / statistics.median(times), n, kept


def collect(engine, wl, rec, untraced, tm, recorder, inp, dims_db, sinks_db, d,
            events_dir, cores) -> tuple[dict, int, int]:
    """Per-layer metrics as ``name -> (value, unit)``, read off the last
    traced pass, plus the checks they made (attempted, failed). Also
    writes the full trace next to the run's history."""
    traced = tm["last"]
    truth, src = inp.truth, inp.src
    m: dict[str, tuple] = {}
    failed = attempted = 0
    setup = rec["setup"]
    m["session.boot_s"] = (setup["boot_s"], "s")
    m["dim.load_s"] = (statistics.median(setup["dim_load_s"]), "s")
    m["dim.rows"] = (wl.shape.sections + wl.shape.articles, "count")

    time.sleep(1.0)  # let the listener bus deliver the last progress events
    run_ids = {str(h.runId): q for q, h in traced["handles"].items()}
    events = recorder.of(set(run_ids))
    rows_in = sum(e["numInputRows"] for e in events)
    dur = lambda part: [e["durationMs"].get(part, 0) for e in events]  # noqa: E731
    m["source.rows_in"] = (rows_in, "count")
    m["source.latest_offset_ms"] = (observe.pct(dur("latestOffset"), 50), "ms")
    m["source.get_batch_ms"] = (observe.pct(dur("getBatch"), 50), "ms")
    per_batch = {}
    for q, fmap in traced["maps"].items():
        for b in fmap.values():
            per_batch[(q, b)] = per_batch.get((q, b), 0) + 1
    m["source.lag_files_max"] = (max(per_batch.values(), default=0), "count")

    m["logparse.parses_per_line"] = (rows_in / truth.lines, "ratio")
    lines_per_s, n, kept = parse_replay(engine, src)
    m["logparse.keep_ratio"] = (kept / n, "ratio")
    m["logparse.lines_per_s"] = (lines_per_s, "1/s")
    attempted += 1
    if n != truth.lines or kept != truth.kept:
        failed += 1

    m["batch.count"] = (len(events), "count")
    m["batch.rows_p50"] = (observe.pct([e["numInputRows"] for e in events], 50), "count")
    for name, part in BATCH_PARTS.items():
        m[f"batch.{name}_p50"] = (observe.pct(dur(part), 50), "ms")
        m[f"batch.{name}_p90"] = (observe.pct(dur(part), 90), "ms")

    for q in stream.QUERIES:
        ev = [e for e in events if e["name"] == q]
        ops = [e["stateOperators"][0] for e in ev if e.get("stateOperators")]
        m[f"state.{q}.rows_total"] = (max((o["numRowsTotal"] for o in ops), default=0), "count")
        m[f"state.{q}.rows_updated"] = (sum(o["numRowsUpdated"] for o in ops), "count")
        m[f"state.{q}.memory_bytes"] = (max((o["memoryUsedBytes"] for o in ops), default=0), "B")
        m[f"state.{q}.commit_ms"] = (sum(o.get("commitTimeMs", 0) for o in ops), "ms")
        sink = traced["sinks"][q]
        m[f"upsert.{q}.call_s"] = (sum(c["end"] - c["start"] for c in sink.calls), "s")
        m[f"upsert.{q}.write_s"] = (sum(c["end"] - c["write_start"] for c in sink.calls), "s")
        m[f"upsert.{q}.rows_written"] = (sum(c["rows"] for c in sink.calls), "count")
        m[f"upsert.{q}.errors"] = (sink.errors, "count")

    m["gen.late_max_s"] = (tm["late_max_s"], "s")
    m["host.load_start"] = (rec["load_start"], "load")
    m["host.load_end"] = (os.getloadavg()[0], "load")
    m["mem.peak_rss_mb"] = (rec["peak_rss_mb"], "MB")
    m["host.steal_share"] = (observe.steal_share(rec["cpu_start"], observe.cpu_times()), "ratio")

    un, tr = untraced["e2e"], tm["e2e"]
    for k in un:
        unit = "1/s" if k == "lines_per_s" else "s"
        m[f"trace.overhead.{k}"] = (tr[k] - un[k], unit)

    # Single-threaded baseline: the head of the traced pass's input
    # drained again at local[N] and, after a restart, at local[1].
    base = inp.head(os.path.join(d, "base_src"), BASELINE_LINES)
    rate_n = _drain_rate(engine, base, engine.load_dims(dims_db), sinks_db,
                         os.path.join(d, "ckpt_n"))
    app_id = engine.spark.sparkContext.applicationId
    engine.stop()
    one = stream.Engine(1, {"spark.eventLog.enabled": "false"})
    rate_1 = _drain_rate(one, base, one.load_dims(dims_db), sinks_db,
                         os.path.join(d, "ckpt_1"))
    one.stop()
    attempted += 2
    failed += (rate_n is None) + (rate_1 is None)
    rate_n, rate_1 = rate_n or float("nan"), rate_1 or float("nan")
    m["catchup.baseline_lines"] = (base.truth.lines, "count")
    m["catchup.rate_local1"] = (rate_1, "1/s")
    m["catchup.rate_localN"] = (rate_n, "1/s")
    m["catchup.parallel_efficiency"] = (rate_n / (cores * rate_1), "ratio")

    log = [p for p in glob.glob(os.path.join(events_dir, "*")) if app_id in p]
    folded = observe.fold_event_log(log[0], run_ids) if log else {}
    for q in stream.QUERIES:
        for k in OPS:
            m[f"ops.{q}.{k}"] = (folded.get(q, {}).get(k, 0), "ms" if k.endswith("_ms") else
                                 ("B" if k.endswith("_bytes") else "count"))

    offset = time.time() - time.monotonic()
    path = os.path.join(os.path.dirname(d), f"trace-{wl.name}-{rec['seed']}.json")
    with open(path, "w") as f:
        json.dump({"record": rec, "metrics": m, "progress": events, "event_log": folded,
                   "spans": spans(traced, events, offset)}, f, indent=1, default=str)
    return m, attempted, failed


def _drain_rate(engine, inp, dims, sinks_db, ckpt):
    res = stream.drain(engine, inp.src, dims, sinks_db, ckpt)
    if res["failed"] or stream.check_sinks(sinks_db, inp.expected):
        return None
    return inp.truth.lines / (res["end"] - res["start"])
