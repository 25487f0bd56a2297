"""The reference job as a workload: log files in, three sqlite upsert
sinks out, driven only through the engine's public seams.

``live_ref`` lands pre-written files into the source directory on a
fixed schedule (open loop) while ``run_log_job`` runs with its default
trigger; the first seconds of landings carry the JVM through its JIT
warm-up and are checked but not timed.
``catchup_wide`` drains a pre-landed backlog with
``run_log_job(available_now=True)``: one untimed warm drain, then drain
after drain until the run's time is used. Both check every sink table
against the generator's ground truth.
"""

from __future__ import annotations

import functools
import math
import os
import shutil
import sqlite3
import statistics
import sys
import threading
import time
from dataclasses import dataclass

import loggen
import observe

QUERIES = ("hot_section", "hot_article", "client_ip_access")
SINK_DDL = {
    "hot_section": "section_id INTEGER PRIMARY KEY, name TEXT, "
                   "section_pv INTEGER, statistic_time TEXT",
    "hot_article": "article_id INTEGER PRIMARY KEY, subject TEXT, "
                   "article_pv INTEGER, statistic_time TEXT",
    "client_ip_access": "client_ip TEXT PRIMARY KEY, client_access_cnt INTEGER, "
                        "statistic_time TEXT",
}
SINK_KEYS = {"hot_section": "section_id", "hot_article": "article_id",
             "client_ip_access": "client_ip"}
SINK_COUNTS = {"hot_section": "section_pv", "hot_article": "article_pv",
               "client_ip_access": "client_access_cnt"}
SINK_LABELS = {"hot_section": "name", "hot_article": "subject"}
# Each repeat costs ~3 s, the first one ~12 s: it pays the first
# compile of the job's code.
SETUP_REPEATS = 2
WARM_LINES = 200
LIVE_TAIL_TIMEOUT_S = 60.0
# Seconds of untimed landings before the measured window of a live pass
# that is not the first one in its JVM: they absorb the fresh job's
# start (its first micro-batch begins ~2 s after the job).
LIVE_REWARM_S = 3.0
# The first drain after set-up still compiles the large-batch code paths
# and runs ~50 % slower than the later ones: it is not timed. The next
# one can still be ~25 % slow, so the figures are medians of at least
# three timed drains (later drains agree within ~8 %).
WARM_DRAINS = 1
MIN_DRAINS = 3
# Share of CPU time the hypervisor gave to other guests above which a
# run is flagged: at ~8 % the drains here ran ~20 % slower.
STEAL_FLAG = 0.05


@dataclass(frozen=True)
class Workload:
    name: str
    shape: loggen.Shape
    open_loop: bool
    lines_per_file: int
    # Open loop: seconds between scheduled landings, and seconds of
    # untimed landings before the measured window of the first live pass.
    interval_s: float = 0.0
    warm_s: float = 0.0
    # Closed loop: files in the backlog drained per pass.
    backlog_files: int = 0


WORKLOADS = {
    # 3 000 lines/s, about a fifth of what catchup_wide drains at
    # local[4] on a 4-core x86 host. Latency here is per-trigger bound:
    # the three queries run micro-batch after micro-batch, ~2.5 s each
    # for the top-10 queries, whatever the rate. At 6 000 lines/s they
    # fell behind for the whole JIT warm-up and latency drifted all run.
    # The engine's JIT compiles ~3.5 s of CPU per second for the first
    # ~20 s of a live job (16 compiler threads on 4 cores), and latency
    # drifts down meanwhile: p50 of 15 s windows, 7.5 s apart, read
    # 6.9, 5.9, 4.9, 4.7, 4.7, 4.6 s. The first 15 s are not timed.
    "live_ref": Workload("live_ref", loggen.REFERENCE_LIKE, True,
                         lines_per_file=300, interval_s=0.1, warm_s=15.0),
    # 64 000 lines per drain: per-row work is over half of a drain at
    # local[4] (a 200-line drain takes ~2.5 s).
    "catchup_wide": Workload("catchup_wide", loggen.WIDE, False,
                             lines_per_file=8_000, backlog_files=8),
}


def sqlite_factory(path: str):
    return functools.partial(sqlite3.connect, path, timeout=120)


def make_dims(path: str, shape: loggen.Shape) -> None:
    with sqlite3.connect(path) as conn:
        conn.execute("CREATE TABLE pre_forum_forum (fid INTEGER PRIMARY KEY, name TEXT)")
        conn.execute("CREATE TABLE pre_forum_post (tid INTEGER PRIMARY KEY, subject TEXT)")
        conn.executemany("INSERT INTO pre_forum_forum VALUES (?, ?)", loggen.section_dim(shape))
        conn.executemany("INSERT INTO pre_forum_post VALUES (?, ?)", loggen.article_dim(shape))


def reset_sinks(path: str) -> None:
    with sqlite3.connect(path) as conn:
        conn.execute("PRAGMA journal_mode=WAL")
        for q, ddl in SINK_DDL.items():
            conn.execute(f"DROP TABLE IF EXISTS {q}")
            conn.execute(f"CREATE TABLE {q} ({ddl})")


def check_sinks(path: str, expected: dict) -> list[str]:
    """Names of sink tables whose final state differs from the truth."""
    bad = []
    with sqlite3.connect(path) as conn:
        for q in QUERIES:
            key, cnt = SINK_KEYS[q], SINK_COUNTS[q]
            label = SINK_LABELS.get(q)
            cols = f"{key}, {label}, {cnt}" if label else f"{key}, {cnt}"
            rows = conn.execute(f"SELECT {cols} FROM {q}").fetchall()
            want = expected[q]
            counts = {r[0]: r[-1] for r in rows}
            if "top" in want:
                top = sorted(rows, key=lambda r: (-r[-1], r[0]))[: loggen.TOP_K]
                ok = [tuple(r) for r in top] == [tuple(t) for t in want["top"]] and all(
                    k in want["counts"] and v <= want["counts"][k]
                    for k, v in counts.items()
                )
            else:
                ok = counts == want["counts"]
            if not ok:
                bad.append(q)
    return bad


class Engine:
    """The engine's public seams, bound to one SparkSession."""

    def __init__(self, cores: int, extra_conf: dict | None = None):
        from flink_log_analysis_spark import get_spark

        conf = {"spark.ui.showConsoleProgress": "false", **(extra_conf or {})}
        # Shuffle (and so state-store) partitions sized to the cores, so
        # no more than ``cores`` sqlite writers run at once.
        self.spark = get_spark("perfbench", master=f"local[{cores}]",
                               shuffle_partitions=cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")

    def load_dims(self, dims_db: str):
        from flink_log_analysis_spark.sources.io import read_dbapi_dim

        factory = sqlite_factory(dims_db)
        section = read_dbapi_dim(self.spark, factory, "pre_forum_forum",
                                 "fid int, name string")
        article = read_dbapi_dim(self.spark, factory, "pre_forum_post",
                                 "tid int, subject string")
        return section, article

    def start_job(self, src: str, dims, sinks_db: str, ckpt: str,
                  available_now: bool, traced: bool):
        from flink_log_analysis_spark.streaming.runner import run_log_job
        from flink_log_analysis_spark.streaming.upsert import jdbc_upsert_writer

        factory = sqlite_factory(sinks_db)
        sinks = {
            q: observe.TimedSink(
                jdbc_upsert_writer(factory, q, [SINK_KEYS[q]], dialect="postgres"),
                traced,
            )
            for q in QUERIES
        }
        handles = run_log_job(self.spark, src, dims[0], dims[1], sinks, ckpt,
                              available_now=available_now)
        return dict(zip(QUERIES, handles)), sinks

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def stop(self) -> None:
        self.spark.stop()


def shutdown_jvm() -> None:
    """Stop the JVM the sessions ran in and wait until it has exited
    (its Python workers end with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def drain(engine: Engine, src: str, dims, sinks_db: str, ckpt: str,
          traced: bool = False) -> dict:
    """One ``available_now`` pass of the job over ``src``."""
    reset_sinks(sinks_db)
    shutil.rmtree(ckpt, ignore_errors=True)
    t0 = time.monotonic()
    handles, sinks = engine.start_job(src, dims, sinks_db, ckpt, True, traced)
    failed = False
    for h in handles.values():
        try:
            h.awaitTermination()
        except Exception as exc:  # a failed query is counted, not fatal
            print(f"perfbench: query {h.name} failed: {exc}", file=sys.stderr)
            failed = True
    return {"start": t0, "end": time.monotonic(), "handles": handles,
            "sinks": sinks, "failed": failed}


def file_latencies(ckpt_root: str, sinks: dict, due: dict[str, float]):
    """Per file: end of the last of the three sink calls whose batch
    held it, minus its due time. Files missing from a sink are None."""
    ends = {q: sinks[q].end_of() for q in QUERIES}
    maps = {q: observe.file_batches(os.path.join(ckpt_root, q)) for q in QUERIES}
    out = {}
    for name, t_due in due.items():
        done = []
        for q in QUERIES:
            b = maps[q].get(name)
            done.append(ends[q].get(b) if b is not None else None)
        out[name] = None if None in done else max(done) - t_due
    return out, maps


class Lander(threading.Thread):
    """Open-loop generator: renames pre-written files into the source
    directory at fixed times, whatever the job is doing."""

    def __init__(self, staged: list[str], dest: str, t0: float, interval: float):
        super().__init__(daemon=True)
        self.staged, self.dest = staged, dest
        self.due = {os.path.basename(p): t0 + i * interval for i, p in enumerate(staged)}
        self.landed: dict[str, float] = {}

    def run(self) -> None:
        for path in self.staged:
            name = os.path.basename(path)
            wait = self.due[name] - time.monotonic()
            if wait > 0:
                time.sleep(wait)
            os.rename(path, os.path.join(self.dest, name))
            self.landed[name] = time.monotonic()

    def late_max(self) -> float:
        return max(self.landed[n] - self.due[n] for n in self.landed)


@dataclass
class Inputs:
    """The files one measured pass reads, and what they must produce."""

    src: str
    staged: list[str]  # open loop: files still to be landed into ``src``
    file_truths: list[loggen.Truth]  # per file, in file-name order
    shape: loggen.Shape
    # Open loop: seconds of untimed landings before the measured window.
    warm_s: float = 0.0

    def __post_init__(self):
        self.truth = loggen.total(self.file_truths)
        self.expected = loggen.expected_sinks(self.truth, self.shape)

    def head(self, dest: str, max_lines: int) -> "Inputs":
        """The first files of ``src`` (at least one, at most
        ``max_lines`` lines together), linked into ``dest``."""
        os.makedirs(dest)
        names = sorted(os.listdir(self.src))
        truths, lines = [], 0
        for name, t in zip(names, self.file_truths):
            if truths and lines + t.lines > max_lines:
                break
            os.link(os.path.join(self.src, name), os.path.join(dest, name))
            truths.append(t)
            lines += t.lines
        return Inputs(dest, [], truths, self.shape)


def make_inputs(gen: loggen.LogGenerator, wl: Workload, d: str, seconds: int,
                warm_s: float) -> Inputs:
    src = os.path.join(d, "src")
    if wl.open_loop:
        n_files = math.ceil((warm_s + seconds) / wl.interval_s)
        staged, truths = loggen.write_files(gen, os.path.join(d, "staged"), n_files,
                                            wl.lines_per_file)
        os.makedirs(src)
    else:
        staged = []
        _, truths = loggen.write_files(gen, src, wl.backlog_files, wl.lines_per_file)
    return Inputs(src, staged, truths, wl.shape, warm_s)


def run(workload: str, seed: int, seconds: int, traced: bool, work: str,
        cores: int) -> dict:
    """One benchmark run. Untraced, it measures one set of passes; traced,
    it measures an untraced and then a traced set, and adds the
    per-layer metrics (``layers.collect``)."""
    d = os.path.join(work, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    try:
        return _run(WORKLOADS[workload], seed, seconds, traced, d, cores)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _run(wl: Workload, seed: int, seconds: int, traced: bool, d: str, cores: int) -> dict:
    load_start = os.getloadavg()[0]
    cpu_start = observe.cpu_times()
    rec: dict = {"workload": wl.name, "seed": seed, "seconds": seconds,
                 "traced": traced, "cores": cores, "load_start": load_start,
                 "cpu_start": cpu_start}

    # Inputs, made before any timing. Each open-loop pass lands its own
    # files; closed-loop passes drain one backlog. The warm-up data
    # comes from its own seed stream.
    gen = loggen.LogGenerator(seed, wl.shape)
    warms = [wl.warm_s, LIVE_REWARM_S] if traced and wl.open_loop else [wl.warm_s]
    inputs = [make_inputs(gen, wl, os.path.join(d, f"in{i}"), seconds, w)
              for i, w in enumerate(warms)]
    warm_src = os.path.join(d, "warm_src")
    loggen.write_files(loggen.LogGenerator(seed + 7_919, wl.shape), warm_src, 1, WARM_LINES)
    dims_db = os.path.join(d, "dims.db")
    make_dims(dims_db, wl.shape)
    sinks_db = os.path.join(d, "sinks.db")
    events_dir = os.path.join(d, "events")

    # Set-up: one session boot, then dim load + one warm micro-batch
    # per query, repeated; set-up time is the boot plus their median.
    # The first repeat also pays the JIT compile of the job's code.
    extra = None
    if traced:
        os.makedirs(events_dir)
        extra = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": events_dir,
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false"}
    t = time.monotonic()
    engine = Engine(cores, extra)
    boot_s = time.monotonic() - t
    dim_load, warm = [], []
    for i in range(SETUP_REPEATS):
        t = time.monotonic()
        dims = engine.load_dims(dims_db)
        dim_load.append(time.monotonic() - t)
        res = drain(engine, warm_src, dims, os.path.join(d, "warm.db"),
                    os.path.join(d, f"warm_ckpt{i}"))
        warm.append(res["end"] - res["start"])
    rec["setup"] = {"boot_s": boot_s, "dim_load_s": dim_load, "warm_s": warm}
    setup_s = boot_s + statistics.median(a + b for a, b in zip(dim_load, warm))

    m = measure(engine, wl, inputs[0], dims, sinks_db, os.path.join(d, "a"), seconds,
                False, WARM_DRAINS)
    rss = {"python_mb": observe.vm_hwm_mb(), "jvm_mb": observe.vm_hwm_mb(engine.jvm_pid())}
    rss_mb = sum(rss.values())
    e2e = {
        "setup_s": (setup_s, "s"),
        "result_latency_p50_s": (m["e2e"]["result_latency_p50_s"], "s"),
        "result_latency_p90_s": (m["e2e"]["result_latency_p90_s"], "s"),
        "lines_per_s": (m["e2e"]["lines_per_s"], "1/s"),
    }
    attempted, failed = m["attempted"], m["failed"]
    rec.update({"lines": inputs[0].truth.lines, "passes": len(m["passes"]),
                "rates": m["rates"], "bad_sinks": m["bad_sinks"],
                "pass_walls": [(p["timed"], p["wall_s"]) for p in m["passes"]],
                "latency_samples": m["latency_samples"],
                "gen_late_max_s": m["late_max_s"], "peak_rss": rss, "peak_rss_mb": rss_mb,
                "end_to_end": {k: v for k, (v, _) in e2e.items()}})

    layers = None
    if traced:
        from layers import collect

        recorder = observe.progress_recorder_class()()
        engine.spark.streams.addListener(recorder)
        inp = inputs[-1]
        # The JVM is warm by now: no untimed drains, and a short
        # untimed head of landings (``LIVE_REWARM_S``).
        tm = measure(engine, wl, inp, dims, sinks_db, os.path.join(d, "b"), seconds,
                     True, 0)
        attempted += tm["attempted"]
        failed += tm["failed"]
        layers, a, f = collect(engine, wl, rec, m, tm, recorder, inp, dims_db,
                               sinks_db, d, events_dir, cores)
        attempted += a
        failed += f
    else:
        engine.stop()
    rec["load_end"] = os.getloadavg()[0]
    rec["steal_share"] = observe.steal_share(cpu_start, observe.cpu_times())
    rec["flagged"] = (rec["gen_late_max_s"] > 1.0 or load_start > 2 * cores
                      or rec["steal_share"] > STEAL_FLAG)
    return {"e2e": e2e, "layers": layers, "attempted": attempted,
            "failed": failed, "record": rec}


def measure(engine, wl, inp: Inputs, dims, sinks_db, d, seconds, traced,
            warm_drains: int) -> dict:
    """Measured passes: one open-loop pass, or ``warm_drains`` untimed
    drains of the backlog and then timed ones until ``seconds`` are used
    (at least ``MIN_DRAINS``). Every pass is checked; the latency
    percentiles and the rate are medians over the timed passes."""
    passes = []
    if wl.open_loop:
        passes.append(live_pass(engine, wl, inp, dims, sinks_db,
                                os.path.join(d, "ckpt0"), traced))
    else:
        for i in range(warm_drains):
            warm = catchup_pass(engine, inp, dims, sinks_db,
                                os.path.join(d, f"warm{i}"), traced)
            passes.append(dict(warm, timed=False))
        t_end = time.monotonic() + seconds
        timed: list[dict] = []
        # Start a drain only while it can end within the run's time,
        # judged by the slowest drain so far.
        while len(timed) < MIN_DRAINS or (
                time.monotonic() + max(p["wall_s"] for p in timed) < t_end):
            timed.append(catchup_pass(engine, inp, dims, sinks_db,
                                      os.path.join(d, f"ckpt{len(timed)}"), traced))
        passes += timed
    timed = [p for p in passes if p["timed"]]
    rates = [p["lines"] / p["wall_s"] for p in timed]
    return {
        "passes": passes, "rates": rates, "last": passes[-1],
        "attempted": sum(len(p["latency"]) + len(QUERIES) for p in passes),
        "failed": sum(sum(v is None for v in p["latency"].values()) + len(p["bad_sinks"])
                      for p in passes),
        "bad_sinks": [p["bad_sinks"] for p in passes],
        "latency_samples": sum(len(p["measured"]) for p in timed),
        "late_max_s": max(p["late_max_s"] for p in passes),
        "e2e": {"result_latency_p50_s": statistics.median(
                    observe.pct(p["measured"], 50) for p in timed),
                "result_latency_p90_s": statistics.median(
                    observe.pct(p["measured"], 90) for p in timed),
                "lines_per_s": statistics.median(rates)},
    }


def live_pass(engine, wl, inp: Inputs, dims, sinks_db, ckpt, traced):
    """One open-loop pass. Files due in the first ``inp.warm_s`` seconds
    of landings are checked but not timed; the rate is the measured
    window's lines over the time from its start until the last of its
    files is in all three sinks."""
    reset_sinks(sinks_db)
    t_start = time.monotonic()
    handles, sinks = engine.start_job(inp.src, dims, sinks_db, ckpt, False, traced)
    t_land = time.monotonic() + 0.5
    lander = Lander(inp.staged, inp.src, t_land, wl.interval_s)
    lander.start()
    lander.join()
    deadline = time.monotonic() + LIVE_TAIL_TIMEOUT_S
    while True:
        lat, _ = file_latencies(ckpt, sinks, lander.due)
        if all(v is not None for v in lat.values()):
            # Let each query commit its last batch (and report its
            # progress) before it is stopped.
            for h in handles.values():
                h.processAllAvailable()
            break
        if time.monotonic() > deadline or any(h.exception() for h in handles.values()):
            break
        time.sleep(0.2)
    for h in handles.values():
        h.stop()
    lat, maps = file_latencies(ckpt, sinks, lander.due)
    window = t_land + inp.warm_s
    timed_files = [n for n, t_due in lander.due.items() if t_due >= window]
    measured = [lat[n] for n in timed_files if lat[n] is not None]
    lines = sum(t.lines for n, t in zip(sorted(lander.due), inp.file_truths)
                if lander.due[n] >= window)
    last = max((lander.due[n] + lat[n] for n in timed_files if lat[n] is not None),
               default=float("nan"))
    return {"latency": lat, "measured": measured, "lines": lines,
            "wall_s": last - window, "timed": True, "handles": handles,
            "sinks": sinks, "maps": maps, "due": lander.due,
            "landed": lander.landed, "late_max_s": lander.late_max(), "ckpt": ckpt,
            "start": t_start, "bad_sinks": check_sinks(sinks_db, inp.expected)}


def catchup_pass(engine, inp: Inputs, dims, sinks_db, ckpt, traced):
    """One drain of the backlog. Every file is due when the job starts;
    the drain's lateness is the time spent resetting sinks and checkpoint
    before that start."""
    t_due = time.monotonic()
    res = drain(engine, inp.src, dims, sinks_db, ckpt, traced)
    due = {n: res["start"] for n in sorted(os.listdir(inp.src))}
    lat, maps = file_latencies(ckpt, res["sinks"], due)
    return {"latency": lat, "measured": [v for v in lat.values() if v is not None],
            "lines": inp.truth.lines, "wall_s": res["end"] - res["start"],
            "timed": True, "handles": res["handles"], "sinks": res["sinks"],
            "maps": maps, "due": due, "ckpt": ckpt, "start": res["start"],
            "late_max_s": res["start"] - t_due,
            "bad_sinks": check_sinks(sinks_db, inp.expected)}
