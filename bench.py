#!/usr/bin/env python
"""Bench harness: run the engine's headline queries at one scale factor.

Prints TWO JSON lines:
  line 1 (detail): {"metric": "headline_queries_detail",
                    "queries": {"q": sec, ...}, "errors": {...}, "sf": <sf>}
  last line (compact, tail-safe): {"metric": "headline_queries_total",
                    "value": <total_sec>, "unit": "sec", "sf": <sf>}

The compact line goes LAST and carries no per-query dict: the driver's
tail capture is bounded, and a single 71-query JSON line overflows it
(BENCH_r02/r03 both recorded ``parsed: null`` because the line start was
truncated). The full per-query detail is also written to
``BENCH_DETAIL.json`` next to this script.

ARCHIVING CONVENTION (VERDICT r14 item 1): the driver runs this
script AFTER the round's last commit, so the driver-host per-query
detail lands in the working tree as an uncommitted BENCH_DETAIL.json.
At the START of each round, copy it to
``BENCH_DETAIL_r{N}_driver.json`` (N = the round that just closed)
and commit — that file is the only per-query evidence of the
driver-host run (r13's was lost this way; r12's and r14's are
archived).

METHODOLOGY (tagged "r17" on both JSON lines — numbers are only
round-comparable within one tag; tools/bench_diff.py warns when tags
differ):

- The run is sharded across fresh JVMs (subprocess per chunk of
  queries, default 8). A single 70+-query session generates
  whole-stage-codegen compile work faster than HotSpot's JIT queue
  drains it; sharding keeps every timed query inside a JIT-healthy
  session. JVM boot and per-chunk prebuild repetition are harness
  overhead outside every timed window.
- Every timed query first runs ONCE untimed at the timed SF (cost
  recorded under prebuild["deep_warm"]): HotSpot warm-up on a query's
  generated code is deterministic and data-size-dependent, so without
  it the first timed execution reads 3-10x the steady state (measured
  across unrelated families in r16: dsir_select [15.8, 2.5, 1.8]s,
  near_dedup_best_docs [7.0, 1.8, 1.7]s, doc_boilerplate_signals
  [7.9, 4.0, 2.8]s, all solo on an idle host). Timed numbers mean
  steady-state plan build + full execution from the parquet inputs;
  nothing result-shaped is cached (the warm execution writes to the
  noop sink, and every timed pass recomputes from parquet).
- Each query is then timed over exactly ONE execution. The r5-r16
  retry/median machinery (median-of-3 deepened to 5) existed to absorb
  first-execution contamination; with the deep warm in place it was
  redundant — and the stacked executions (up to 7 per slow query) made
  the r16 driver bench time out (BENCH_r16.json rc=124, the round's
  defining failure).
- The sf0.01 warm pass (rounds 5-16) is gone for the same reason: the
  deep warm at the timed SF strictly subsumes its JIT coverage, so the
  extra pass only cost wall-clock inside the driver's window.
- Per-phase wall budget: the detail line carries "phase_wall"
  (session_boot / prebuild / deep_warm / timed seconds summed over
  chunks) and each chunk prints a progress line to stderr, so a
  driver-window timeout is diagnosable from the captured output.

Each query is materialized via a noop-sink write that forces full
execution of every output row/column without shipping rows to the
driver (driver-side collect cost is not what we benchmark at 100 TB).

STANDING-ARTIFACT PREBUILDS (the ``PREBUILDS`` registry below; VERDICT
r16 item 4): a few timed rows' DECLARED semantics is the steady-state
consumer of a standing corpus artifact — the near-dup pair/corpus
index, the substring window-key index (llm_quality._substr_index), the
pHash corpus signature table (llm_multimodal._phash_corpus_sigs), the
IVF centroids, the LM/tokenizer/quality-classifier models. Their
docstrings say so explicitly and the oracle models the artifact as a
standing table. Those artifacts are built once per chunk session,
outside the timed windows, and EVERY build's cost is recorded under
"prebuild" in the detail line — the work is measured, separately, not
hidden. The IVF/PQ *index economics* rows (ivf_index_build /
pq_index_build + one pruned search each) exist precisely to keep a
recorded number on the build path; they run once per bench run.

Manufactured shared inputs (log-lines text, the events parquet mirror,
jsonl/csv/orc format twins) are INPUT manufacture — format mirrors of
the driver's parquet testdata, not query results. They are built once
per bench run into a run-scoped cache dir (SPARK_GRAFT_INPUT_CACHE,
created by main() and deleted at exit) and reused across chunk JVMs;
per-chunk rebuild was pure harness overhead (81.7s of the r16 8-core
driver run).

Env: SPARK_GRAFT_SF_DIR         (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS           (default all cores),
     SPARK_GRAFT_BENCH_CHUNK    (queries per JVM, default 8 — see main()).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

METHODOLOGY = "r17"

# Correctness-only contract: knn_ivf_recall re-runs the full
# brute-force cross join plus the IVF search purely to assert a
# recall floor — including it would inflate headline_queries_total
# with duplicate work. (sketch_accuracy IS benched: it replaced
# approx_sketches as the sketch component's registry entry in r6, so
# the sketch path keeps a headline number.)
EXCLUDE = (
    "knn_ivf_recall",
    "knn_ivf_quantized_recall",
    "knn_ivf_quantized_recall_p6",
    # identity contracts over the persisted/appended IVF index: each
    # runs the pruned-scan search AND the full in-memory composition
    # AND two exceptAll set-diffs purely to assert byte-equality —
    # duplicate work by design, like the recall contracts above. Their
    # index-build cost is exercised (and visible) in the correctness
    # gate, not here: nothing TIMED consumes the index, so prebuilding
    # it would spend bench wall-clock on an artifact no timed query
    # reads.
    "knn_ivf_persisted",
    "knn_ivf_appended",
    "knn_ivf_streamed",
    # IVF hard-negative recall contract: embeds the exact brute-force
    # baseline as its truth side
    "hard_negative_mining_ivf",
    # many-cell geometry contract: brute-force truth + THREE search
    # paths (persisted, full-precision routing, in-memory twin) + two
    # set-diffs, all to assert recall/scan/identity bounds — a
    # correctness artifact like the recall contracts above
    "knn_ivf_manycell_recall",
    # compaction identity contract: builds base + 3 streamed ingests,
    # compacts, and re-searches both layouts purely to assert
    # byte-equality — same duplicate-work-by-design family
    "knn_ivf_compacted",
    # PQ re-rank recall contract: embeds the exact brute-force truth
    # side (the PQ search path itself IS timed via knn_pq_adc_exact)
    "knn_pq_rerank_recall",
    # probe tuner: embeds the exact brute-force truth as the curve's
    # ground side (the tuned search path is timed via knn_ivf)
    "knn_ivf_probe_tuned",
    # its persisted-index composition: the same brute-force truth plus
    # THREE searches and four set-diffs, purely to assert identity
    "knn_ivf_persisted_tuned",
)


def assemble_lines(
    timings: dict,
    errors: dict,
    prebuild: dict,
    prebuild_errors: dict,
    sf: float,
    phase_wall: dict | None = None,
) -> tuple[dict, dict]:
    """Build the (detail, compact) JSON payloads from a run's results.

    Pure so the error contract is unit-testable: when ANY query
    errored, both lines carry ``"incomplete": true`` — a partial run's
    total sums only the queries that succeeded and must never be read
    as a faster COMPLETE run (tests/test_bench_lines.py forces an
    error and asserts the marker).
    """
    total = round(sum(timings.values()), 3)
    detail = {
        "metric": "headline_queries_detail",
        "methodology": METHODOLOGY,
        "queries": timings,
        "errors": errors,
        "prebuild": prebuild,
        "prebuild_errors": prebuild_errors,
        "phase_wall": phase_wall or {},
        "sf": sf,
    }
    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "methodology": METHODOLOGY,
    }
    if errors:
        detail["incomplete"] = True
        compact["errors"] = len(errors)
        compact["incomplete"] = True
    return detail, compact


def query_names() -> list[str]:
    import __spark_entry__ as entrymod

    return [n for n in entrymod.queries() if n not in EXCLUDE]


def run_slice(
    sf_dir: str, names: list[str]
) -> tuple[dict, dict, dict, dict, dict]:
    """Run one chunk of queries in THIS process's fresh session.

    Returns (timings, errors, prebuild, prebuild_errors, phase_wall)."""
    t_start = time.perf_counter()
    import __spark_entry__ as entrymod
    from flink_log_analysis_spark import get_spark
    from flink_log_analysis_spark.session import release_checkpoints

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    phase_wall: dict[str, float] = {
        "session_boot": round(time.perf_counter() - t_start, 3)
    }

    prebuild: dict[str, float] = {}
    prebuild_errors: dict[str, str] = {}

    def prestep(key: str, fn) -> None:
        """One prebuild step, isolated: a failing step must neither
        kill the chunk nor silently skip LATER steps (pre-r7 a single
        broad try/except meant one failed build pushed every later
        step's input manufacture into the timed query windows with no
        signal). Failures are reported in the detail line."""
        try:
            t0 = time.perf_counter()
            fn()
            prebuild[key] = round(
                prebuild.get(key, 0.0) + time.perf_counter() - t0, 3
            )
        except Exception as exc:  # noqa: BLE001
            prebuild_errors[key] = f"{type(exc).__name__}: {exc}"[:300]
        release_checkpoints(spark)

    t_pre = time.perf_counter()
    if any(n.endswith("_stream") or n == "stateful_sessions" for n in names):
        from flink_log_analysis_spark.plans.logpipe import lines_dir
        from flink_log_analysis_spark.plans.streamed import events_stream_dir

        prestep("stream_inputs", lambda: lines_dir(spark, sf_dir))
        prestep("stream_inputs", lambda: events_stream_dir(spark, sf_dir))

    # Shared one-time builds at the TIMED sf — a declarative registry
    # (VERDICT r14 item 2a): every session-cached artifact a timed
    # query consumes maps ONE membership rule to its builder, so chunk
    # membership — under ANY driver-window rotation — deterministically
    # triggers the build outside the timed windows. The near-dup pair
    # set, the IVF centroids, and the LM/tokenizer models are corpus
    # preprocessing built once per session and consumed by several
    # queries — per-query timings measure the steady-state search/read
    # path, and the build cost is reported separately under "prebuild"
    # in the detail line (see the STANDING-ARTIFACT PREBUILDS note in
    # the module docstring: each consuming row's own docstring names
    # its artifact as standing corpus state, and the oracle models it
    # the same way).
    # (lm_perplexity_filter_3gram_dist deliberately has NO prebuild:
    # its contract IS the inline distributed fit — checkpointed count
    # frames can't outlive a harness's release_checkpoints anyway.
    # lm_perplexity_per_lang / ccnet_buckets likewise: their contract
    # is the distributed per-language frame fit, never a collected
    # session-cached model.)
    def _lazy(module: str, attr: str):
        def build() -> None:
            import importlib

            getattr(importlib.import_module(module), attr)(spark, sf_dir)

        return build

    _P = "flink_log_analysis_spark.plans"
    PREBUILDS: list[tuple[str, tuple[str, ...], tuple[str, ...], object]] = [
        # (step key, name prefixes, exact names, builder)
        ("near_dup_pairs_index", ("near_dup",), ("near_dedup_docs",),
         _lazy(f"{_P}.llm_dedup", "_verified_pairs")),
        ("near_dup_corpus_index", ("incremental_near_dups",), (),
         _lazy(f"{_P}.llm_dedup", "_corpus_index")),
        ("substr_corpus_index", ("substring_dedup_incremental",
                                 "substring_dedup_stream"), (),
         _lazy(f"{_P}.llm_quality", "_substr_index")),
        ("phash_corpus_sigs", ("phash_incremental",), (),
         _lazy(f"{_P}.llm_multimodal", "_phash_corpus_sigs")),
        ("ivf_centroids", ("knn_ivf",), (),
         _lazy(f"{_P}.llm_similarity", "_ivf_centroids")),
        ("lm_bigram_model", ("lm_perplexity_filter",),
         ("pretrain_corpus_prep",),
         _lazy(f"{_P}.llm_quality", "_lm_model")),
        ("lm_trigram_model", (),
         ("lm_perplexity_filter_3gram", "lm_perplexity_chunked"),
         _lazy(f"{_P}.llm_quality", "_lm3_model")),
        ("lm_kn_model", (), ("lm_perplexity_filter_kn",),
         _lazy(f"{_P}.llm_quality", "_lm_kn_model")),
        ("qc_model", ("quality_classifier",), (),
         _lazy(f"{_P}.llm_quality", "_qc_model")),
    ]
    if "bpe_learned_deep" in names:
        from flink_log_analysis_spark.plans.llm_text import _staircase_merges

        PREBUILDS.append(
            ("bpe_staircase_fit", (), ("bpe_learned_deep",),
             lambda: _staircase_merges(spark))
        )
    for key, prefixes, exact, build in PREBUILDS:
        if any(
            (prefixes and n.startswith(prefixes)) or n in exact
            for n in names
        ):
            prestep(key, build)

    # Recorded economics for the persisted IVF/PQ indexes (VERDICT r9
    # #6 / r10 #6): the identity contracts that exercise them are
    # EXCLUDEd as duplicate-work correctness artifacts, so without this
    # the BUILD cost would never be a recorded number. Write the index
    # fresh into a THROWAWAY dir at the timed sf (a true cold build —
    # never the /tmp gate cache, whose hit would record ~0) and run one
    # pruned search over it; both land in the prebuild map. Gated by
    # SPARK_GRAFT_BENCH_ECON so the parent runs each economics block
    # ONCE PER BENCH RUN (r16 ran them once per matching chunk — 82s of
    # duplicated untimed work in the 8-core driver run); a manual slice
    # run without the env var keeps the name-triggered behavior.
    def _index_economics(prefix, build_key, build_fn, search_key):
        from pyspark.sql import functions as F

        from flink_log_analysis_spark.operators import similarity as _sim
        from flink_log_analysis_spark.plans.llm_similarity import (
            IVF_INDEX_PROBE,
            IVF_INDEX_QUERIES,
            K,
        )
        from flink_log_analysis_spark.session import read_table

        _econ_dir = tempfile.mkdtemp(prefix=prefix)
        _idx = f"{_econ_dir}/index"
        try:
            _emb = read_table(spark, sf_dir, "embeddings")
            prestep(build_key, lambda: build_fn(_sim, _emb, _idx))

            def _pruned_search() -> None:
                q = _emb.filter(F.col("vec_id") < IVF_INDEX_QUERIES)
                res, _ = _sim.knn_persisted(
                    spark, _idx, q, k=K, n_probe=IVF_INDEX_PROBE
                )
                res.write.format("noop").mode("overwrite").save()

            prestep(search_key, _pruned_search)
        finally:
            shutil.rmtree(_econ_dir, ignore_errors=True)

    econ_env = os.environ.get("SPARK_GRAFT_BENCH_ECON")
    if econ_env is not None:
        econ = set(filter(None, econ_env.split(",")))
    else:
        econ = set()
        if "knn_ivf" in names:
            econ.add("ivf")
        if any(n.startswith(("knn_pq", "knn_ivf_pq")) for n in names):
            econ.add("pq")
    if "ivf" in econ:
        from flink_log_analysis_spark.plans.llm_similarity import (
            IVF_INDEX_CELLS,
        )

        _index_economics(
            "bench_ivf_econ_",
            "ivf_index_build",
            lambda sim, emb, idx: sim.write_ivf_index(
                emb, idx, n_cells=IVF_INDEX_CELLS, seed=42
            ),
            "ivf_index_search_pruned",
        )
    if "pq" in econ:
        from flink_log_analysis_spark.plans.llm_similarity import (
            IVF_INDEX_CELLS,
            PQ_FIT_CW,
            PQ_FIT_M,
        )

        def _pq_build(sim, emb, idx):
            cents = sim.ivf_fit(emb, n_cells=IVF_INDEX_CELLS, seed=42)
            books = sim.pq_fit(
                emb, m=PQ_FIT_M, n_codewords=PQ_FIT_CW, seed=42
            )
            sim.write_pq_index(emb, idx, cents, books)

        _index_economics(
            "bench_pq_econ_",
            "pq_index_build",
            _pq_build,
            "pq_index_search_pruned",
        )

    # Manufactured JSONL/CSV inputs are shared corpus snapshots like
    # the stream inputs above — build them at the timed SF outside
    # the timed windows.
    if any(
        n in ("documents_jsonl_roundtrip", "corpus_ingest_stream",
              "corpus_tokenize_stream", "lm_perplexity_filter_stream",
              "quality_classifier_stream")
        for n in names
    ):
        from flink_log_analysis_spark.plans.formats import jsonl_dir

        prestep("jsonl_input", lambda: jsonl_dir(spark, sf_dir))
    if "events_csv_roundtrip" in names:
        from flink_log_analysis_spark.plans.formats import csv_dir

        prestep("csv_input", lambda: csv_dir(spark, sf_dir))
    if "lineitem_orc_roundtrip" in names:
        from flink_log_analysis_spark.plans.formats import orc_dir

        prestep("orc_input", lambda: orc_dir(spark, sf_dir))
    phase_wall["prebuild"] = round(
        time.perf_counter() - t_pre, 3
    )

    # Deep warm (r16, kept in r17 as the ONLY warm): one untimed
    # execution at the TIMED sf for EVERY query in the chunk, so the
    # timed pass measures steady-state execution (standard warmup-run
    # benchmarking). HotSpot reaches steady state on a query's
    # generated code only after ~10k row evaluations at real data
    # volume; the decay is deterministic and was measured on rows
    # across unrelated families (module docstring). Cost stays
    # recorded under prebuild["deep_warm"]; nothing result-shaped is
    # cached — the warm execution writes to the noop sink and the
    # timed pass recomputes from the parquet inputs.
    t_dw = time.perf_counter()
    for name in names:
        prestep(
            "deep_warm",
            lambda n=name: qs[n](spark, sf_dir)
            .write.format("noop")
            .mode("overwrite")
            .save(),
        )
    phase_wall["deep_warm"] = round(time.perf_counter() - t_dw, 3)

    def timed(name: str) -> float | None:
        t0 = time.perf_counter()
        try:
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            return round(time.perf_counter() - t0, 3)
        except Exception as exc:  # noqa: BLE001 — one broken query must
            # not zero the whole round's perf signal (BENCH_r04 crashed
            # on a single AnalysisException and recorded nothing).
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            return None
        finally:
            # Drop this query's localCheckpoint blocks so storage does
            # not accumulate across the chunk (harness bookkeeping,
            # outside the timed window).
            release_checkpoints(spark)

    # ONE timed execution per query, post-warm (methodology "r17", see
    # module docstring: the retry/median machinery was redundant with
    # the deep warm and its stacked executions timed out the r16
    # driver bench).
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    t_timed = time.perf_counter()
    for name in names:
        t = timed(name)
        if t is not None:
            timings[name] = t
    phase_wall["timed"] = round(time.perf_counter() - t_timed, 3)
    spark.stop()
    return timings, errors, prebuild, prebuild_errors, phase_wall


def run_chunks(
    names: list[str], chunk: int, launch
) -> tuple[dict, dict, dict, dict, dict]:
    """Run ``names`` in contiguous chunks of ``chunk`` through
    ``launch(part, econ)`` — which returns the chunk's JSON payload and
    raises when the chunk dies — and merge the payloads into
    (timings, errors, prebuild, prebuild_errors, phase_wall).

    The index-economics blocks (``econ``: "ivf", "pq") run once per
    bench run, in the first chunk whose names match. A flag is cleared
    only when the chunk that carried it returned its payload; a chunk
    that times out or crashes hands its flags to the next chunk, so one
    dead chunk cannot cost the run its ``*_index_build`` /
    ``*_index_search_pruned`` rows. Flags the last chunk could not
    deliver are reported under ``prebuild_errors``."""
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    prebuild: dict[str, float] = {}
    prebuild_errors: dict[str, str] = {}
    phase_wall: dict[str, float] = {}
    econ_pending = {"ivf", "pq"}
    carried: set[str] = set()
    n_chunks = (len(names) + chunk - 1) // chunk
    t_run0 = time.perf_counter()
    for i in range(0, len(names), chunk):
        part = names[i : i + chunk]
        want = set(carried)
        if "ivf" in econ_pending and "knn_ivf" in part:
            want.add("ivf")
        if "pq" in econ_pending and any(
            n.startswith(("knn_pq", "knn_ivf_pq")) for n in part
        ):
            want.add("pq")
        t_c0 = time.perf_counter()
        try:
            payload = launch(part, ",".join(sorted(want)))
        except Exception as exc:  # noqa: BLE001 — a dead chunk loses
            # its queries' timings but must not kill the bench line.
            for n in part:
                if n not in timings:
                    errors[n] = f"chunk failed: {exc}"[:300]
            carried = want
            continue
        econ_pending -= want
        carried = set()
        timings.update(payload["queries"])
        errors.update(payload["errors"])
        for k, v in payload.get("prebuild", {}).items():
            prebuild[k] = round(prebuild.get(k, 0.0) + v, 3)
        prebuild_errors.update(payload.get("prebuild_errors", {}))
        pw = payload.get("phase_wall", {})
        for k, v in pw.items():
            phase_wall[k] = round(phase_wall.get(k, 0.0) + v, 3)
        # Per-chunk progress to stderr: makes a run that times out
        # diagnosable from captured output (which chunk, how long,
        # which phase is eating the budget).
        print(
            f"[bench] chunk {i // chunk + 1}/{n_chunks} "
            f"({len(part)}q) wall={time.perf_counter() - t_c0:.1f}s "
            f"boot={pw.get('session_boot', 0):.1f} "
            f"prebuild={pw.get('prebuild', 0):.1f} "
            f"deep_warm={pw.get('deep_warm', 0):.1f} "
            f"timed={pw.get('timed', 0):.1f} "
            f"elapsed={time.perf_counter() - t_run0:.0f}s",
            file=sys.stderr,
            flush=True,
        )
    for flag in sorted(carried):
        prebuild_errors[f"{flag}_index_build"] = (
            "not run: the chunk carrying it failed and no chunk followed"
        )
    return timings, errors, prebuild, prebuild_errors, phase_wall


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.0

    slice_env = os.environ.get("SPARK_GRAFT_BENCH_SLICE")
    if slice_env is not None:
        # Child mode: run the named queries, print one JSON line.
        names = slice_env.split(",")
        (timings, errors, prebuild, prebuild_errors,
         phase_wall) = run_slice(sf_dir, names)
        print(json.dumps(
            {"queries": timings, "errors": errors, "prebuild": prebuild,
             "prebuild_errors": prebuild_errors, "phase_wall": phase_wall}
        ))
        return

    names = query_names()
    # Chunk default 8 (r17; 12 in r5-r15, 4 in r16): small enough that
    # cumulative codegen churn cannot inflate late rows (the r16
    # failure mode that motivated 4 was ~4-7 executions per query from
    # warm passes + deep warm + retries; r17 runs exactly 2), large
    # enough that JVM boot + per-chunk prebuilds don't dominate the
    # driver's wall window (45 boots at chunk 4 vs ~23 at 8).
    chunk = max(int(os.environ.get("SPARK_GRAFT_BENCH_CHUNK", "8")), 1)
    # Contiguous slices (NOT strided): the registry clusters operator
    # families, and keeping a family in one JVM lets its shared plan
    # fragments hit the codegen cache; striding was measured 28% worse
    # (every chunk re-compiles every family).

    # Run-scoped manufactured-input cache shared across chunk JVMs
    # (see module docstring) — created fresh per bench run, deleted on
    # exit, so every invocation still computes from the parquet inputs.
    own_input_cache = None
    if not os.environ.get("SPARK_GRAFT_INPUT_CACHE"):
        own_input_cache = tempfile.mkdtemp(prefix="bench_inputs_")
        os.environ["SPARK_GRAFT_INPUT_CACHE"] = own_input_cache

    def launch(part: list[str], econ: str) -> dict:
        env = dict(
            os.environ,
            SPARK_GRAFT_BENCH_SLICE=",".join(part),
            SPARK_GRAFT_BENCH_ECON=econ,
        )
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env,
            capture_output=True,
            text=True,
            timeout=1800,
        )
        for ln in reversed(proc.stdout.strip().splitlines()):
            if ln.startswith("{"):
                return json.loads(ln)
        raise RuntimeError(
            f"chunk produced no JSON (rc={proc.returncode}): "
            f"{proc.stderr[-300:]}"
        )

    try:
        (timings, errors, prebuild, prebuild_errors,
         phase_wall) = run_chunks(names, chunk, launch)
    finally:
        if own_input_cache:
            shutil.rmtree(own_input_cache, ignore_errors=True)
            os.environ.pop("SPARK_GRAFT_INPUT_CACHE", None)

    detail, compact = assemble_lines(
        timings, errors, prebuild, prebuild_errors, sf,
        phase_wall=phase_wall,
    )
    total = compact["value"]
    print(json.dumps(detail))
    try:
        detail_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
        )
        with open(detail_path, "w") as fh:
            json.dump({**detail, "value": total, "unit": "sec"}, fh, indent=1)
    except OSError:
        pass
    # Compact line LAST so the driver's bounded tail capture always
    # contains a complete, parseable JSON object.
    sys.stdout.flush()
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
