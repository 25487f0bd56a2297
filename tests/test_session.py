"""Session-layer tests: timestamp normalization across the parquet
encodings the data generator has shipped, and checkpoint lifecycle.

The round-4 testdata regeneration switched events/orders/lineitem from
parquet TIMESTAMP(NANOS) to plain ``timestamp[us]`` (no zone), which
Spark reads as TIMESTAMP_NTZ; event-time watermarks and unix_micros
both reject NTZ, so read_table folds every encoding to TimestampType.
"""

import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from flink_log_analysis_spark.session import (
    NANO_TS_COLUMNS,
    read_table,
    release_checkpoints,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_declared_ts_columns_read_as_timestamp(spark):
    """Every declared timestamp column lands as TimestampType (not NTZ,
    not bigint), whatever encoding the generator used."""
    for table, cols in NANO_TS_COLUMNS.items():
        dtypes = dict(read_table(spark, SF_DIR, table).dtypes)
        for c in cols:
            assert dtypes[c] == "timestamp", (table, c, dtypes[c])


def test_ntz_parquet_normalized(spark):
    """A timestamp[us]-no-zone parquet column (read by Spark as
    TIMESTAMP_NTZ) is cast to TimestampType with unchanged micros under
    the UTC session zone."""
    with tempfile.TemporaryDirectory() as d:
        ts = pa.array([1_700_000_000_000_000], type=pa.timestamp("us"))
        pq.write_table(
            pa.table({"ts": ts, "event_id": pa.array([1], type=pa.int64())}),
            f"{d}/events.parquet",
        )
        df = read_table(spark, d, "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        [row] = df.select(F.unix_micros("ts").alias("us")).collect()
        assert row.us == 1_700_000_000_000_000


def test_ntz_events_support_watermark(spark):
    """The normalized stream-side schema accepts event-time watermarks
    (the exact call that broke in round 4)."""
    ev = read_table(spark, SF_DIR, "events")
    # withWatermark on a batch DF validates the column type eagerly.
    ev.withWatermark("ts", "10 minutes")


def test_release_checkpoints_unpersists(spark):
    df = read_table(spark, SF_DIR, "nation").localCheckpoint(eager=True)
    assert df.count() > 0
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    assert jmap.size() >= 1
    n = release_checkpoints(spark)
    assert n >= 1
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


@pytest.mark.parametrize("table", ["orders", "lineitem"])
def test_date_columns_normalized(spark, table):
    dtypes = dict(read_table(spark, SF_DIR, table).dtypes)
    assert "timestamp_ntz" not in dtypes.values()


def test_date32_parquet_normalized(spark):
    """Drift insurance: a declared ts column written as parquet date32
    is cast to TimestampType (midnight UTC), same as the NTZ path."""
    with tempfile.TemporaryDirectory() as d:
        dates = pa.array([19723], type=pa.date32())  # 2024-01-01
        pq.write_table(
            pa.table({"ts": dates, "event_id": pa.array([1], type=pa.int64())}),
            f"{d}/events.parquet",
        )
        df = read_table(spark, d, "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        [row] = df.select(F.unix_micros("ts").alias("us")).collect()
        assert row.us == 19723 * 86400 * 1_000_000


def test_manufactured_input_keys_keep_paths_apart(monkeypatch, tmp_path):
    """The run-cache key must not collapse distinct sf_dir paths whose
    readable slugs coincide (/a/b_c and /a/b/c)."""
    from flink_log_analysis_spark.session import manufactured_input

    monkeypatch.setenv("SPARK_GRAFT_INPUT_CACHE", str(tmp_path))
    built = []

    def build(path):
        built.append(path)
        os.makedirs(os.path.join(path, "lines"))
        open(os.path.join(path, "lines", "_SUCCESS"), "w").close()

    a = manufactured_input({}, "/a/b_c", "logs_", "lines", build)
    b = manufactured_input({}, "/a/b/c", "logs_", "lines", build)
    assert a != b
    assert built == [a, b]
    # a fresh process cache still reuses the run-scoped dir
    assert manufactured_input({}, "/a/b_c", "logs_", "lines", build) == a
    assert len(built) == 2


def _slow_counting_build(path):
    """A run-cache build that takes long enough for a second process to
    arrive while it runs, and records each call in a counter file."""
    import time

    time.sleep(1.0)
    with open(os.path.join(os.path.dirname(path), "builds.txt"), "a") as f:
        f.write(f"{os.getpid()}\n")
    os.makedirs(os.path.join(path, "lines"), exist_ok=True)
    open(os.path.join(path, "lines", "_SUCCESS"), "w").close()


def _resolve_in_child(root, start, out):
    from flink_log_analysis_spark.session import manufactured_input

    os.environ["SPARK_GRAFT_INPUT_CACHE"] = root
    start.wait(timeout=60)
    path = manufactured_input({}, "/a/b", "logs_", "lines", _slow_counting_build)
    out.put(path)


def test_manufactured_input_concurrent_processes_build_once(tmp_path):
    """Two processes resolving the same run-cache key at once build the
    input once and both get the same path."""
    import multiprocessing

    ctx = multiprocessing.get_context("spawn")
    start, out = ctx.Barrier(2), ctx.Queue()
    procs = [
        ctx.Process(target=_resolve_in_child, args=(str(tmp_path), start, out))
        for _ in range(2)
    ]
    for p in procs:
        p.start()
    paths = [out.get(timeout=60) for _ in procs]
    for p in procs:
        p.join(timeout=60)
        assert p.exitcode == 0
    assert paths[0] == paths[1]
    with open(tmp_path / "builds.txt") as f:
        assert len(f.read().split()) == 1
