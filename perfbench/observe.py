"""What the benchmark records around the engine: sink-call timings,
file-source logs, streaming progress, the Spark event log, memory and
host load. Nothing here changes what the engine computes."""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict

import numpy as np


def pct(values, q: float) -> float:
    """Linear-interpolated percentile ``q`` (0-100); NaN when empty."""
    return float(np.percentile(values, q)) if len(values) else float("nan")


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process, from ``/proc``."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_times() -> list[int]:
    """Host-wide CPU time counters (jiffies) from ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples
    of :func:`cpu_times` (the 8th counter)."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


class TimedSink:
    """Wraps a ``foreachBatch`` sink and records each call.

    Untraced, a call is timed as a whole: it runs the lazy batch plan
    and the write. Traced, the batch is first materialised, so the
    write itself (``write_s``) is timed apart from the call
    (``call_s``) and its output rows are counted.
    """

    def __init__(self, sink, traced: bool):
        self.sink = sink
        self.traced = traced
        self.calls: list[dict] = []
        self.errors = 0

    def __call__(self, batch_df, batch_id: int) -> None:
        t0 = time.monotonic()
        rows = None
        if self.traced:
            batch_df = batch_df.persist()
            rows = batch_df.count()
        t1 = time.monotonic()
        try:
            self.sink(batch_df, batch_id)
        except Exception:
            self.errors += 1
            raise
        finally:
            if self.traced:
                batch_df.unpersist()
        self.calls.append(
            {"batch": batch_id, "start": t0, "write_start": t1,
             "end": time.monotonic(), "rows": rows}
        )

    def end_of(self) -> dict[int, float]:
        """batch id -> end of the last call for that batch."""
        return {c["batch"]: c["end"] for c in self.calls}


def file_batches(checkpoint_dir: str) -> dict[str, int]:
    """File name -> batch id, from a file-stream query's source log.

    Reads every entry of ``sources/0``, both plain batch files and
    ``.compact`` files, keyed by each entry's own ``batchId`` field:
    compaction folds older batches into one file, so the file name is
    not the batch of every entry in it.
    """
    log_dir = os.path.join(checkpoint_dir, "sources", "0")
    out: dict[str, int] = {}
    try:
        names = os.listdir(log_dir)
    except FileNotFoundError:
        return out
    for name in names:
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        try:
            with open(os.path.join(log_dir, name)) as f:
                lines = f.read().splitlines()
        except FileNotFoundError:  # removed by log cleanup meanwhile
            continue
        for line in lines[1:]:  # first line is the log version
            if not line.strip():
                continue
            entry = json.loads(line)
            out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def progress_recorder_class():
    """A ``StreamingQueryListener`` subclass that keeps every progress
    event as a dict. Built lazily so importing this module needs no
    Spark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressRecorder(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            with self._lock:
                self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def of(self, run_ids: set[str]) -> list[dict]:
            with self._lock:
                return [e for e in self.events if e.get("runId") in run_ids]

    return ProgressRecorder


def fold_event_log(path: str, group_names: dict[str, str]) -> dict[str, dict]:
    """Task metrics of an uncompressed Spark event log, summed per job
    group and named through ``group_names`` (job group -> name).

    Structured Streaming runs each micro-batch's jobs under the query's
    run id as job group, so the groups are the streaming queries.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                name = group_names.get(group)
                if name is None:
                    continue
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = name
            elif kind == "SparkListenerTaskEnd":
                name = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if name is None or not m:
                    continue
                acc = out[name]
                acc["tasks"] += 1
                acc["run_ms"] += m.get("Executor Run Time", 0)
                acc["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                acc["gc_ms"] += m.get("JVM GC Time", 0)
                acc["deserialize_ms"] += m.get("Executor Deserialize Time", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                acc["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return {k: dict(v) for k, v in out.items()}
