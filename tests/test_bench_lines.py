"""Bench output-contract tests (no Spark needed).

The driver parses bench.py's LAST stdout line; a run where any query
errored must carry ``"incomplete": true`` on BOTH lines so a partial
total can never read as a perf win (VERDICT r6 item 3).
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def test_incomplete_marker_on_forced_error():
    detail, compact = bench.assemble_lines(
        timings={"q1": 1.0, "q2": 2.0},
        errors={"q3": "AnalysisException: boom"},
        prebuild={},
        prebuild_errors={},
        sf=0.1,
    )
    assert detail["incomplete"] is True
    assert compact["incomplete"] is True
    assert compact["errors"] == 1
    # the partial total still sums ONLY successes (3.0), flagged as such
    assert compact["value"] == 3.0
    json.dumps(detail), json.dumps(compact)  # both JSON-serializable


def test_clean_run_has_no_incomplete_marker():
    detail, compact = bench.assemble_lines(
        timings={"q1": 1.5},
        errors={},
        prebuild={"stream_inputs": 2.0},
        prebuild_errors={},
        sf=0.01,
    )
    assert "incomplete" not in detail
    assert "incomplete" not in compact
    assert compact["value"] == 1.5
    # compact stays short: no per-query dict (bounded driver tail)
    assert "queries" not in compact


def _payload(part, econ):
    prebuild = {f"{flag}_index_build": 1.0 for flag in filter(None, econ.split(","))}
    return {
        "queries": {n: 1.0 for n in part},
        "errors": {},
        "prebuild": prebuild,
        "prebuild_errors": {},
        "phase_wall": {"timed": 1.0},
    }


def test_dead_chunk_hands_index_economics_to_next_chunk():
    """A chunk that dies after launch must not take the run's index
    economics with it: its flags ride the next chunk, and only a chunk
    that returned its payload clears them."""
    seen = []

    def launch(part, econ):
        seen.append(econ)
        if len(seen) == 1:
            raise RuntimeError("timed out after 1800 s")
        return _payload(part, econ)

    names = ["knn_ivf", "knn_pq_adc_exact", "q3", "q4", "q5", "knn_ivf_pq_exact"]
    timings, errors, prebuild, prebuild_errors, _ = bench.run_chunks(
        names, 2, launch
    )
    assert seen == ["ivf,pq", "ivf,pq", ""]
    assert set(errors) == {"knn_ivf", "knn_pq_adc_exact"}
    assert set(timings) == {"q3", "q4", "q5", "knn_ivf_pq_exact"}
    assert prebuild == {"ivf_index_build": 1.0, "pq_index_build": 1.0}
    assert prebuild_errors == {}


def test_undelivered_index_economics_are_reported():
    def launch(part, econ):
        raise RuntimeError("chunk crashed")

    _, errors, prebuild, prebuild_errors, _ = bench.run_chunks(
        ["knn_ivf", "knn_pq_adc_exact"], 8, launch
    )
    assert set(errors) == {"knn_ivf", "knn_pq_adc_exact"} and prebuild == {}
    assert set(prebuild_errors) == {"ivf_index_build", "pq_index_build"}
