"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench -q

The last test runs the benchmark itself once per workload and mode with
``--seconds 1``, which takes several minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import loggen  # noqa: E402
import observe  # noqa: E402
import stream  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from flink_log_analysis_spark import get_spark

    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


@pytest.mark.parametrize("shape", [loggen.REFERENCE_LIKE, loggen.WIDE])
def test_generator_is_deterministic_per_seed(shape):
    a_lines, a_truth = loggen.LogGenerator(5, shape).chunk(3_000)
    b_lines, b_truth = loggen.LogGenerator(5, shape).chunk(3_000)
    c_lines, _ = loggen.LogGenerator(6, shape).chunk(3_000)
    assert a_lines == b_lines
    assert a_truth == b_truth
    assert a_lines != c_lines


def test_generator_covers_every_line_kind():
    lines, truth = loggen.LogGenerator(1, loggen.REFERENCE_LIKE).chunk(5_000)
    assert any(" 404 " in ln or " 403 " in ln for ln in lines)
    assert any("mod=ajax" in ln for ln in lines)
    assert any("broken line" in ln for ln in lines)
    assert any('"-" 408 -' in ln for ln in lines)
    assert any("-Aug/" in ln for ln in lines)  # unparseable date
    assert 0 < truth.kept < truth.lines


def test_oracle_equals_batch_parse_aggregation(spark, tmp_path):
    from pyspark.sql import functions as F

    from flink_log_analysis_spark import logparse
    from flink_log_analysis_spark.streaming import runner

    shape = loggen.Shape(sections=12, articles=60, ips=80, zipf_s=1.0, off_dim=0.05)
    lines, truth = loggen.LogGenerator(3, shape).chunk(4_000)
    df = spark.createDataFrame([(ln,) for ln in lines], "line string")
    logs = logparse.parse_access_logs(df)
    assert logs.count() == truth.kept

    sections = spark.createDataFrame(loggen.section_dim(shape), "fid int, name string")
    articles = spark.createDataFrame(loggen.article_dim(shape), "tid int, subject string")
    q1 = {r[0]: r[1] for r in runner.hot_section_agg(logs, sections)
          .select("section_id", "section_pv").collect()}
    q2 = {r[0]: r[1] for r in runner.hot_article_agg(logs, articles)
          .select("article_id", "article_pv").collect()}
    q3 = {r[0]: r[1] for r in runner.client_ip_access_agg(logs).collect()}
    assert q1 == dict(truth.section_pv)
    assert q2 == dict(truth.article_pv)
    assert q3 == dict(truth.ip_cnt)

    expected = loggen.expected_sinks(truth, shape)
    top = (runner.hot_section_agg(logs, sections)
           .orderBy(F.desc("section_pv"), F.asc("section_id")).limit(10)
           .select("section_id", "name", "section_pv").collect())
    assert [tuple(r) for r in top] == expected["hot_section"]["top"]


def test_check_sinks_accepts_stale_rows_below_the_top10(tmp_path):
    shape = loggen.Shape(sections=30, articles=30, ips=20, zipf_s=0.5)
    _, truth = loggen.LogGenerator(2, shape).chunk(3_000)
    expected = loggen.expected_sinks(truth, shape)
    db = str(tmp_path / "s.db")
    stream.reset_sinks(db)
    import sqlite3

    with sqlite3.connect(db) as conn:
        for k, name, v in expected["hot_section"]["top"]:
            conn.execute("INSERT INTO hot_section VALUES (?, ?, ?, 't')", (k, name, v))
        outside = next(k for k in truth.section_pv
                       if k not in {t[0] for t in expected["hot_section"]["top"]})
        conn.execute("INSERT INTO hot_section VALUES (?, 'x', 1, 't')", (outside,))
        for k, name, v in expected["hot_article"]["top"]:
            conn.execute("INSERT INTO hot_article VALUES (?, ?, ?, 't')", (k, name, v))
        conn.executemany("INSERT INTO client_ip_access VALUES (?, ?, 't')",
                         list(truth.ip_cnt.items()))
    assert stream.check_sinks(db, expected) == []
    with sqlite3.connect(db) as conn:
        conn.execute("UPDATE client_ip_access SET client_access_cnt = client_access_cnt + 1 "
                     "WHERE rowid = 1")
        conn.execute("UPDATE hot_article SET article_pv = article_pv + 1 WHERE article_id = ?",
                     (expected["hot_article"]["top"][0][0],))
    assert stream.check_sinks(db, expected) == ["hot_article", "client_ip_access"]


def test_file_batch_mapping_survives_log_compaction(spark, tmp_path):
    from pyspark.sql import functions as F

    src, ckpt = tmp_path / "src", str(tmp_path / "ckpt")
    src.mkdir()
    seen: dict[str, int] = {}

    def record(batch_df, batch_id):
        for r in batch_df.select(F.input_file_name()).distinct().collect():
            seen[os.path.basename(r[0])] = batch_id

    conf = {"spark.sql.streaming.fileSource.log.compactInterval": "2",
            "spark.sql.streaming.fileSource.log.cleanupDelay": "0",
            "spark.sql.streaming.minBatchesToRetain": "1"}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        q = (spark.readStream.format("text").load(str(src)).writeStream
             .foreachBatch(record).option("checkpointLocation", ckpt).start())
        for i in range(7):
            (src / f"f{i}.log").write_text(f"line {i}\n")
            q.processAllAvailable()
        q.stop()
    finally:
        for k in conf:
            spark.conf.unset(k)
    log_files = os.listdir(os.path.join(ckpt, "sources", "0"))
    assert any(n.endswith(".compact") for n in log_files)
    assert "0" not in log_files, sorted(log_files)  # batch 0 is only in a .compact file now
    assert len(seen) == 7 and len(set(seen.values())) == 7
    assert observe.file_batches(ckpt) == seen


def _bench_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return bench, {0: bench["end_to_end"], 1: bench["per_layer"]}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(stream.WORKLOADS))
def test_every_declared_metric_is_printed_with_its_unit(workload, trace):
    bench, declared = _bench_metrics()
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(stream.WORKLOADS)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "9",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in declared[trace]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want
