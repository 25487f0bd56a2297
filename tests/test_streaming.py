"""Streaming-layer tests: stream-final state == batch twin (SURVEY §5.3).

The reference's aggregations are unbounded, so the stream's final
state over a finite input must equal the batch query over the same
input — that equivalence is the core assertion here, plus unit tests
of the upsert sinks and stateful operators.
"""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_log_analysis_spark import logparse
from flink_log_analysis_spark.session import scoped_conf
from flink_log_analysis_spark.sources.synthetic import write_log_file
from flink_log_analysis_spark.streaming import (
    MemoryUpsertSink,
    ParquetUpsertSink,
    jdbc_upsert_statement,
)
from flink_log_analysis_spark.streaming.runner import (
    client_ip_access_agg,
    hot_article_agg,
    hot_section_agg,
    run_log_job,
)
from flink_log_analysis_spark.streaming import stateful

N_SECTIONS = 40
N_ARTICLES = 1000
STAT_TIME = "2020-08-27 12:00:00"


@pytest.fixture(scope="module")
def log_dir(tmp_path_factory):
    from datetime import datetime

    d = tmp_path_factory.mktemp("loglanding")
    # Several files -> several input splits; availableNow drains them
    # all. Disjoint increasing time ranges (like real log rotation) so
    # event-time watermark tests see no late data across files.
    write_log_file(str(d / "part0.log"), 400, seed=1,
                   start=datetime(2020, 8, 27, 10, 0, 0))
    write_log_file(str(d / "part1.log"), 400, seed=2,
                   start=datetime(2020, 8, 27, 11, 0, 0))
    write_log_file(str(d / "part2.log"), 400, seed=3,
                   start=datetime(2020, 8, 27, 12, 0, 0))
    return str(d)


@pytest.fixture(scope="module")
def dims(spark):
    section = spark.createDataFrame(
        [(i, f"section-{i}") for i in range(1, N_SECTIONS + 1)], "fid int, name string"
    )
    article = spark.createDataFrame(
        [(i, f"article-{i}") for i in range(1, N_ARTICLES + 1)],
        "tid int, subject string",
    )
    return section, article


def _batch_logs(spark, log_dir):
    return logparse.parse_access_logs(
        spark.read.text(log_dir).withColumnRenamed("value", "line")
    )


def _rows(df, *order_cols):
    return [tuple(r) for r in df.orderBy(*order_cols).collect()]


def test_stream_final_state_equals_batch(spark, log_dir, dims, tmp_path):
    section_dim, article_dim = dims
    sinks = {
        "hot_section": MemoryUpsertSink(["section_id"], complete=True),
        "hot_article": MemoryUpsertSink(["article_id"], complete=True),
        "client_ip_access": MemoryUpsertSink(["client_ip"]),
    }
    queries = run_log_job(
        spark,
        log_dir,
        section_dim,
        article_dim,
        sinks,
        checkpoint_root=str(tmp_path / "ckpt"),
        available_now=True,
        stat_time=STAT_TIME,
    )
    for q in queries:
        q.awaitTermination(timeout=120)

    logs = _batch_logs(spark, log_dir)

    exp_section = (
        hot_section_agg(logs, section_dim)
        .orderBy(F.desc("section_pv"), F.asc("section_id"))
        .limit(10)
        .withColumn("statistic_time", F.lit(STAT_TIME))
    )
    got_section = sinks["hot_section"].to_df(spark)
    assert _rows(got_section, "section_id") == _rows(exp_section, "section_id")

    exp_article = (
        hot_article_agg(logs, article_dim)
        .orderBy(F.desc("article_pv"), F.asc("article_id"))
        .limit(10)
        .withColumn("statistic_time", F.lit(STAT_TIME))
    )
    got_article = sinks["hot_article"].to_df(spark)
    assert _rows(got_article, "article_id") == _rows(exp_article, "article_id")

    exp_ip = client_ip_access_agg(logs).withColumn("statistic_time", F.lit(STAT_TIME))
    got_ip = sinks["client_ip_access"].to_df(spark)
    assert _rows(got_ip, "client_ip") == _rows(exp_ip, "client_ip")
    assert got_ip.count() > 0


def test_incremental_batches_accumulate(spark, dims, tmp_path):
    """Files arriving across micro-batches accumulate state (unbounded
    agg), and the upsert sink converges to the batch-over-all result."""
    section_dim, _ = dims
    land = tmp_path / "land"
    land.mkdir()
    write_log_file(str(land / "a.log"), 150, seed=10)

    sink = MemoryUpsertSink(["client_ip"])
    from flink_log_analysis_spark.streaming.runner import (
        parsed_log_stream,
        read_log_file_stream,
        start_upsert_stream,
    )

    # One file per trigger -> deterministic multi-batch run.
    lines = read_log_file_stream(spark, str(land), max_files_per_trigger=1)
    agg = client_ip_access_agg(parsed_log_stream(lines))
    q = start_upsert_stream(
        agg, sink, str(tmp_path / "ckpt2"), stat_time=STAT_TIME
    )
    try:
        q.processAllAvailable()
        write_log_file(str(land / "b.log"), 150, seed=11)
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(sink.applied_batches) >= 2

    logs = _batch_logs(spark, str(land))
    exp = client_ip_access_agg(logs).withColumn("statistic_time", F.lit(STAT_TIME))
    assert _rows(sink.to_df(spark), "client_ip") == _rows(exp, "client_ip")


def test_parquet_upsert_sink_merges_by_key(spark, tmp_path):
    sink = ParquetUpsertSink(str(tmp_path / "state.parquet"), ["k"])
    b0 = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    b1 = spark.createDataFrame([("b", 20), ("c", 3)], "k string, v int")
    sink(b0, 0)
    sink(b1, 1)
    got = {r["k"]: r["v"] for r in sink.read(spark).collect()}
    assert got == {"a": 1, "b": 20, "c": 3}


def test_jdbc_upsert_statement_dialects():
    mysql = jdbc_upsert_statement(
        "hot_section", ["section_id", "name", "section_pv"], ["section_id"]
    )
    assert mysql == (
        "INSERT INTO hot_section (section_id, name, section_pv) VALUES (?, ?, ?) "
        "ON DUPLICATE KEY UPDATE name = VALUES(name), section_pv = VALUES(section_pv)"
    )
    pg = jdbc_upsert_statement("t", ["k", "v"], ["k"], dialect="postgres")
    assert "ON CONFLICT (k) DO UPDATE SET v = EXCLUDED.v" in pg


def test_jdbc_upsert_writer_against_sqlite(spark, tmp_path):
    """Exercise the production foreachBatch writer through a real DB-API
    connection (sqlite speaks the postgres ON CONFLICT dialect)."""
    import sqlite3

    db = str(tmp_path / "sink.db")
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE t (k TEXT PRIMARY KEY, v INTEGER)")

    from flink_log_analysis_spark.streaming.upsert import jdbc_upsert_writer

    def factory(path=db):
        import sqlite3 as s

        return s.connect(path, timeout=30)

    write = jdbc_upsert_writer(factory, "t", ["k"], dialect="postgres")
    b0 = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int").coalesce(1)
    b1 = spark.createDataFrame([("b", 20), ("c", 3)], "k string, v int").coalesce(1)
    write(b0, 0)
    write(b1, 1)
    with sqlite3.connect(db) as conn:
        got = dict(conn.execute("SELECT k, v FROM t").fetchall())
    assert got == {"a": 1, "b": 20, "c": 3}


def test_jdbc_upsert_writer_batch_is_atomic(spark, tmp_path):
    """A micro-batch lands all-or-nothing: when the database rejects one
    row of a multi-partition batch, no row of the batch is left in the
    table — also not the rows of the partitions before it."""
    import sqlite3

    from flink_log_analysis_spark.streaming.upsert import jdbc_upsert_writer

    db = str(tmp_path / "sink.db")
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE t (k TEXT PRIMARY KEY, v INTEGER CHECK (v >= 0))")
        conn.executemany("INSERT INTO t VALUES (?, ?)", [("a", 1), ("b", 2)])
        conn.commit()

    def table_state():
        with sqlite3.connect(db) as conn:
            return sorted(conn.execute("SELECT k, v FROM t").fetchall())

    before = table_state()
    batch = spark.createDataFrame(
        [("a", 10), ("c", 3), ("d", 4), ("bad", -1)], "k string, v int"
    )
    part = dict(
        batch.select("k", F.spark_partition_id().alias("p")).collect()
    )
    assert part["bad"] > min(part.values())  # rejected row in a later partition

    write = jdbc_upsert_writer(
        lambda: sqlite3.connect(db, timeout=30), "t", ["k"], dialect="postgres"
    )
    with pytest.raises(Exception):
        write(batch, 0)
    assert table_state() == before


def test_stream_upsert_into_sqlite_matches_memory_sink(spark, tmp_path):
    """B1/B2 executable evidence against a real SQL engine: a
    multi-batch stream upserts into stdlib sqlite3 through the
    production connection_factory seam (sqlite speaks the postgres
    ON CONFLICT dialect), and the final keyed TABLE state must equal
    both the MemoryUpsertSink's state and, transitively, the
    batch-over-all aggregate (test_incremental_batches_accumulate
    proves the memory-sink == batch leg)."""
    import sqlite3

    from flink_log_analysis_spark.streaming.runner import (
        parsed_log_stream,
        read_log_file_stream,
        start_upsert_stream,
    )
    from flink_log_analysis_spark.streaming.upsert import jdbc_upsert_writer

    land = tmp_path / "land"
    land.mkdir()
    write_log_file(str(land / "a.log"), 120, seed=21)

    db = str(tmp_path / "sink.db")
    with sqlite3.connect(db) as conn:
        conn.execute(
            "CREATE TABLE client_ip_access ("
            "client_ip TEXT PRIMARY KEY, client_access_cnt INTEGER, "
            "statistic_time TEXT)"
        )

    def factory(path=db):
        import sqlite3 as s

        return s.connect(path, timeout=30)

    mem = MemoryUpsertSink(["client_ip"])
    jdbc = jdbc_upsert_writer(
        factory, "client_ip_access", ["client_ip"], dialect="postgres"
    )

    def tee(batch_df, batch_id):
        mem(batch_df, batch_id)
        jdbc(batch_df, batch_id)

    lines = read_log_file_stream(spark, str(land), max_files_per_trigger=1)
    agg = client_ip_access_agg(parsed_log_stream(lines))
    q = start_upsert_stream(
        agg, tee, str(tmp_path / "ckpt"), stat_time=STAT_TIME
    )
    try:
        q.processAllAvailable()
        write_log_file(str(land / "b.log"), 120, seed=22)
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(mem.applied_batches) >= 2  # really exercised multi-batch upsert

    with sqlite3.connect(db) as conn:
        got = {
            k: (cnt, ts)
            for k, cnt, ts in conn.execute(
                "SELECT client_ip, client_access_cnt, statistic_time "
                "FROM client_ip_access"
            )
        }
    exp = {
        d["client_ip"]: (d["client_access_cnt"], d["statistic_time"])
        for d in mem.state.values()
    }
    assert len(got) > 0
    assert got == exp


def test_session_window_stream_equals_batch(spark, log_dir, tmp_path):
    """session_window agg through a real stream == same agg in batch."""
    from flink_log_analysis_spark.streaming.runner import (
        parsed_log_stream,
        read_log_file_stream,
    )

    # One file per micro-batch so the watermark advances between
    # batches and closes earlier sessions (a single batch would leave
    # every window open -> zero append-mode output).
    lines = read_log_file_stream(spark, log_dir, max_files_per_trigger=1)
    sess = stateful.session_counts(
        parsed_log_stream(lines), gap="5 minutes", watermark="10 seconds"
    )
    out = []

    q = (
        sess.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: out.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=120)

    batch = stateful.session_counts(
        _batch_logs(spark, log_dir), gap="5 minutes", watermark="10 seconds"
    )
    exp = sorted(tuple(r) for r in batch.collect())
    # Append mode only emits windows closed by the watermark; over a
    # finite input the last open window per key never closes, so the
    # stream output is a prefix subset of the batch sessions.
    got = sorted(tuple(r) for r in out)
    assert set(got) <= set(exp)
    assert len(got) > 0


def test_windowed_event_counts_stream_matches_batch(spark):
    """The watermarked append-mode query emits exactly the hourly
    windows whose end precedes max(ts) - 30min, with batch-equal
    counts (no late rows exist in a single availableNow batch)."""
    import datetime

    from flink_log_analysis_spark.plans.streamed import (
        windowed_event_counts_stream,
    )
    from flink_log_analysis_spark.session import read_table

    sf = "/root/testdata/sf0.001"
    got = {
        (r.window_start, r.event_type): r.n_events
        for r in windowed_event_counts_stream(spark, sf).collect()
    }
    ev = read_table(spark, sf, "events")
    max_ts = ev.agg(F.max("ts")).first()[0]
    cutoff = max_ts - datetime.timedelta(minutes=30)
    exp = {
        (r.hour, r.event_type): r.n
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
        if r.hour + datetime.timedelta(hours=1) <= cutoff
    }
    assert got == exp
    assert len(got) > 0


def test_sessionize_with_state_gap_splits(spark, tmp_path):
    """applyInPandasWithState emits gap-closed sessions matching a
    hand-computed expectation."""
    rows = [
        ("u1", "2020-01-01 10:00:00"),
        ("u1", "2020-01-01 10:10:00"),
        ("u1", "2020-01-01 12:00:00"),  # > 30 min gap -> closes session 1
        ("u2", "2020-01-01 09:00:00"),
        ("u2", "2020-01-01 11:00:00"),  # closes u2 session 1
        ("u2", "2020-01-01 11:05:00"),
    ]
    src = tmp_path / "events"
    src.mkdir()
    import json

    with open(src / "data.json", "w") as f:
        for k, ts in rows:
            f.write(json.dumps({"clientIP": k, "accessTs": ts}) + "\n")

    schema = T.StructType(
        [
            T.StructField("clientIP", T.StringType()),
            T.StructField("accessTs", T.TimestampType()),
        ]
    )
    stream = spark.readStream.schema(schema).json(str(src))
    sess = stateful.sessionize_with_state(stream, gap_seconds=1800)
    out = []
    done = []
    q = (
        sess.writeStream.outputMode("append")
        .foreachBatch(
            lambda df, bid: (out.extend(df.collect()), done.append(bid))
        )
        .option("checkpointLocation", str(tmp_path / "ckpt4"))
        .trigger(availableNow=True)
        .start()
    )
    # A query holding processing-time timers never terminates under
    # availableNow (see stateful.py) — poll for the data batch, then
    # stop instead of burning the full awaitTermination timeout.
    import time as _time

    deadline = _time.time() + 120
    while not done and _time.time() < deadline:
        _time.sleep(0.5)
    q.stop()

    got = {(r["key"], str(r["session_start"]), r["session_hits"], r["closed_by"])
           for r in out}
    assert got == {
        ("u1", "2020-01-01 10:00:00", 2, "gap"),
        ("u2", "2020-01-01 09:00:00", 1, "gap"),
    }


def test_checkpoint_recovery_no_double_count(spark, tmp_path):
    """Stop a stream, land more data, restart from the SAME checkpoint:
    state must resume (not reset) and the sink must not double-apply —
    the Spark twin of the reference's FsStateBackend checkpointing."""
    from flink_log_analysis_spark.streaming.runner import (
        client_ip_access_agg,
        parsed_log_stream,
        read_log_file_stream,
        start_upsert_stream,
    )

    land = tmp_path / "land"
    land.mkdir()
    ckpt = str(tmp_path / "ckpt_recover")
    write_log_file(str(land / "a.log"), 200, seed=20)

    sink = MemoryUpsertSink(["client_ip"])

    def start():
        lines = read_log_file_stream(spark, str(land), max_files_per_trigger=1)
        agg = client_ip_access_agg(parsed_log_stream(lines))
        return start_upsert_stream(agg, sink, ckpt, stat_time=STAT_TIME)

    q = start()
    q.processAllAvailable()
    q.stop()
    batches_before = set(sink.applied_batches)

    write_log_file(str(land / "b.log"), 200, seed=21)
    q2 = start()
    q2.processAllAvailable()
    q2.stop()

    # restart continued the batch sequence instead of replaying it
    assert min(set(sink.applied_batches) - batches_before) >= max(batches_before)

    logs = _batch_logs(spark, str(land))
    exp = client_ip_access_agg(logs).withColumn("statistic_time", F.lit(STAT_TIME))
    assert _rows(sink.to_df(spark), "client_ip") == _rows(exp, "client_ip")


def test_log_job_state_partitions_fresh_and_restarted(spark, log_dir, dims, tmp_path):
    """run_log_job gives each of its three queries a third of the cores
    as state partitions; a hot_section checkpoint made with 4 state
    partitions, fed more files and restarted through run_log_job, keeps
    its 4 and its sink equals the batch oracle over all files."""
    import shutil

    from flink_log_analysis_spark.streaming.runner import (
        parsed_log_stream,
        read_log_file_stream,
        start_upsert_stream,
    )

    section_dim, article_dim = dims
    expected = max(1, spark.sparkContext.defaultParallelism // 3)

    def job_sinks():
        return {
            "hot_section": MemoryUpsertSink(["section_id"], complete=True),
            "hot_article": MemoryUpsertSink(["article_id"], complete=True),
            "client_ip_access": MemoryUpsertSink(["client_ip"]),
        }

    def run_job(root, sinks):
        queries = run_log_job(
            spark, str(land), section_dim, article_dim, sinks,
            checkpoint_root=root, available_now=True, stat_time=STAT_TIME,
        )
        for q in queries:
            q.awaitTermination(timeout=120)
        return {
            q.name: q.lastProgress["stateOperators"][0]["numShufflePartitions"]
            for q in queries
        }

    land = tmp_path / "land"
    land.mkdir()
    names = sorted(os.listdir(log_dir))
    shutil.copy(os.path.join(log_dir, names[0]), land / names[0])

    fresh = run_job(str(tmp_path / "fresh"), job_sinks())
    assert fresh == dict.fromkeys(
        ("hot_section", "hot_article", "client_ip_access"), expected
    )

    root = str(tmp_path / "old")
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": 4}):
        old = start_upsert_stream(
            hot_section_agg(
                parsed_log_stream(read_log_file_stream(spark, str(land))),
                section_dim,
            ),
            MemoryUpsertSink(["section_id"], complete=True),
            f"{root}/hot_section",
            top_k=10,
            order_by=[F.desc("section_pv"), F.asc("section_id")],
            stat_time=STAT_TIME,
            available_now=True,
        )
    old.awaitTermination(timeout=120)
    assert old.lastProgress["stateOperators"][0]["numShufflePartitions"] == 4

    for name in names[1:]:
        shutil.copy(os.path.join(log_dir, name), land / name)
    sinks = job_sinks()
    restarted = run_job(root, sinks)
    assert restarted["hot_section"] == 4
    assert restarted["client_ip_access"] == expected

    exp_section = (
        hot_section_agg(_batch_logs(spark, str(land)), section_dim)
        .orderBy(F.desc("section_pv"), F.asc("section_id"))
        .limit(10)
        .withColumn("statistic_time", F.lit(STAT_TIME))
    )
    got_section = sinks["hot_section"].to_df(spark)
    assert _rows(got_section, "section_id") == _rows(exp_section, "section_id")


def test_upsert_statement_key_only_table():
    assert jdbc_upsert_statement("t", ["k"], ["k"]).endswith("k = k")
    assert jdbc_upsert_statement("t", ["k"], ["k"], dialect="postgres").endswith(
        "DO NOTHING"
    )


def test_memory_sink_declared_schema_empty_stream(spark):
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("k", LongType()), StructField("v", LongType())])
    sink = MemoryUpsertSink(["k"], schema=schema)
    df = sink.to_df(spark)
    assert df.count() == 0 and df.columns == ["k", "v"]


def test_start_upsert_stream_validates_topk_order(spark, tmp_path):
    import pytest
    from flink_log_analysis_spark.streaming.runner import start_upsert_stream

    with pytest.raises(ValueError, match="order_by"):
        start_upsert_stream(
            spark.range(1), MemoryUpsertSink(["id"]), str(tmp_path / "c"), top_k=5
        )


def test_stream_stream_interval_join_equals_batch(spark, tmp_path):
    """Watermarked stream-stream interval join drains to the same rows
    as the batch join over the same input."""
    import json as _json

    from flink_log_analysis_spark.streaming.joins import interval_join

    views = [("u1", "2020-01-01 10:00:00"), ("u1", "2020-01-01 12:00:00"),
             ("u2", "2020-01-01 10:30:00")]
    buys = [("u1", "2020-01-01 10:20:00", 5.0),   # within 1h of view1
            ("u1", "2020-01-01 13:30:00", 7.0),   # > 1h after view2 -> no match
            ("u2", "2020-01-01 10:45:00", 9.0)]
    vdir, bdir = tmp_path / "views", tmp_path / "buys"
    vdir.mkdir(), bdir.mkdir()
    (vdir / "v.json").write_text("\n".join(
        _json.dumps({"user": u, "view_ts": t}) for u, t in views))
    (bdir / "b.json").write_text("\n".join(
        _json.dumps({"user": u, "buy_ts": t, "amount": a}) for u, t, a in buys))

    v_schema = "user string, view_ts timestamp"
    b_schema = "user string, buy_ts timestamp, amount double"

    def joined(ldf, rdf):
        return interval_join(ldf, rdf, "user", "view_ts", "buy_ts", upper="1 hour")

    batch = joined(
        spark.read.schema(v_schema).json(str(vdir)),
        spark.read.schema(b_schema).json(str(bdir)),
    )
    exp = sorted(tuple(r) for r in batch.collect())
    assert len(exp) == 2  # (u1 view1 -> 5.0), (u2 -> 9.0)

    out = []
    q = (
        joined(
            spark.readStream.schema(v_schema).json(str(vdir)),
            spark.readStream.schema(b_schema).json(str(bdir)),
        )
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: out.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=120)
    assert sorted(tuple(r) for r in out) == exp


def test_kafka_reader_plan_construction(spark):
    """A1 Kafka twin (LogAnalysis.java:53-70): the reader must at least
    build its plan. Without the spark-sql-kafka package the format
    lookup fails at .load() — skip then, but any OTHER error (bad
    option wiring, bad selectExpr) is a real failure this test catches."""
    from flink_log_analysis_spark.streaming.runner import read_kafka_stream

    try:
        df = read_kafka_stream(spark, "localhost:9092", topic="t")
    except Exception as e:  # noqa: BLE001 - classify the failure
        msg = str(e)
        if "kafka" in msg.lower() and (
            "Failed to find" in msg or "DATA_SOURCE_NOT_FOUND" in msg
        ):
            pytest.skip("spark-sql-kafka package not on classpath")
        raise
    assert df.isStreaming
    assert df.columns == ["line"]
    assert dict(df.dtypes)["line"] == "string"


def test_log_sessions_stream_equals_batch_minus_open(spark, sf_dir):
    """Batch/stream session parity: the stream's gap-closed output is
    exactly the batch derivation minus each network's final (still
    open) session — the same contract the wrapped oracle states, here
    asserted engine-side so a drift in either twin fails locally."""
    from flink_log_analysis_spark.plans.logpipe import log_sessions
    from flink_log_analysis_spark.plans.streamed import log_sessions_stream

    batch = log_sessions(spark, sf_dir).toPandas()
    stream = log_sessions_stream(spark, sf_dir).toPandas()
    # sessions are time-disjoint per network: the open one is the
    # latest-start row of each client_net
    open_idx = batch.groupby("client_net")["session_start_ms"].idxmax()
    closed = batch.drop(index=open_idx)

    def canon(pdf):
        cols = sorted(pdf.columns)
        return sorted(map(tuple, pdf[cols].itertuples(index=False, name=None)))

    assert canon(closed) == canon(stream)
    # hit conservation: every parsed (non-error) event lands in
    # exactly one batch session
    from flink_log_analysis_spark.plans.logpipe import log_roundtrip

    assert batch["session_hits"].sum() == log_roundtrip(spark, sf_dir).count()


def test_deduped_events_stream_removes_doubled_rows(spark, sf_dir):
    """The stream doubles every event then dropDuplicatesWithinWatermark
    restores exactly-once: sink rows == distinct events, no id twice."""
    from flink_log_analysis_spark.plans.streamed import deduped_events_stream
    from flink_log_analysis_spark.session import read_table

    out = deduped_events_stream(spark, sf_dir)
    n_events = read_table(spark, sf_dir, "events").count()
    assert out.count() == n_events
    assert out.select("event_id").distinct().count() == n_events


def test_incremental_near_dups_stream_equals_batch(spark, sf_dir):
    """Streamed batch-vs-corpus dedup converges to the batch query's
    exact match set (per-micro-batch matching against one prebuilt
    index, multi-batch run)."""
    from flink_log_analysis_spark.plans.llm_dedup import incremental_near_dups
    from flink_log_analysis_spark.plans.streamed import (
        incremental_near_dups_stream,
    )

    got = sorted(
        tuple(r) for r in incremental_near_dups_stream(spark, sf_dir).collect()
    )
    exp = sorted(
        tuple(r) for r in incremental_near_dups(spark, sf_dir).collect()
    )
    assert got == exp
    assert len(got) > 0


def test_conversion_pairs_stream_semantics(spark, sf_dir):
    """The registry's stream-stream interval join: every pair is a
    (view, purchase) of one user with 0 <= lag <= 1h, and the pair set
    equals the batch interval join over the same events."""
    from flink_log_analysis_spark.plans.streamed import conversion_pairs_stream
    from flink_log_analysis_spark.session import read_table

    got = conversion_pairs_stream(spark, sf_dir)
    rows = got.collect()
    assert all(0 <= r.lag_sec <= 3600 for r in rows)

    ev = read_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("vts")
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("bu"), F.col("event_id").alias("buy_id"),
        F.col("ts").alias("bts")
    )
    batch = v.join(
        b,
        (F.col("user_id") == F.col("bu"))
        & (F.col("bts") >= F.col("vts"))
        & (F.col("bts") <= F.col("vts") + F.expr("INTERVAL 1 HOUR")),
    )
    exp = {(r.view_id, r.buy_id) for r in batch.collect()}
    assert {(r.view_id, r.buy_id) for r in rows} == exp
    assert len(rows) == len(exp)


def test_full_job_with_sqlite_dims_and_sinks(spark, log_dir, tmp_path):
    """The COMPLETE reference topology against a real database on BOTH
    ends: dims read from stdlib sqlite3 through the B1 seam
    (read_dbapi_dim), the three streaming queries of run_log_job, and
    every sink upserting into sqlite3 through the B2 seam — this is
    LogAnalysis.java end-to-end with its MySQL endpoints replaced by
    the stdlib DB, leaving Kafka as the only non-executed surface."""
    import sqlite3

    from flink_log_analysis_spark.sources.io import read_dbapi_dim
    from flink_log_analysis_spark.streaming.upsert import jdbc_upsert_writer

    db = str(tmp_path / "both_ends.db")
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE pre_forum_forum (fid INTEGER, name TEXT)")
        conn.executemany(
            "INSERT INTO pre_forum_forum VALUES (?, ?)",
            [(i, f"section-{i}") for i in range(1, N_SECTIONS + 1)],
        )
        conn.execute("CREATE TABLE pre_forum_post (tid INTEGER, subject TEXT)")
        conn.executemany(
            "INSERT INTO pre_forum_post VALUES (?, ?)",
            [(i, f"article-{i}") for i in range(1, N_ARTICLES + 1)],
        )
        conn.execute(
            "CREATE TABLE hot_section (section_id INTEGER PRIMARY KEY, "
            "name TEXT, section_pv INTEGER, statistic_time TEXT)"
        )
        conn.execute(
            "CREATE TABLE hot_article (article_id INTEGER PRIMARY KEY, "
            "subject TEXT, article_pv INTEGER, statistic_time TEXT)"
        )
        conn.execute(
            "CREATE TABLE client_ip_access (client_ip TEXT PRIMARY KEY, "
            "client_access_cnt INTEGER, statistic_time TEXT)"
        )
        conn.commit()

    def factory(path=db):
        import sqlite3 as s

        return s.connect(path, timeout=30)

    section_dim = read_dbapi_dim(
        spark, factory, "pre_forum_forum", "fid int, name string"
    )
    article_dim = read_dbapi_dim(
        spark, factory, "pre_forum_post", "tid int, subject string"
    )
    sinks = {
        name: jdbc_upsert_writer(factory, name, keys, dialect="postgres")
        for name, keys in (
            ("hot_section", ["section_id"]),
            ("hot_article", ["article_id"]),
            ("client_ip_access", ["client_ip"]),
        )
    }
    queries = run_log_job(
        spark,
        log_dir,
        section_dim,
        article_dim,
        sinks,
        checkpoint_root=str(tmp_path / "ckpt_db"),
        available_now=True,
        stat_time=STAT_TIME,
    )
    for q in queries:
        q.awaitTermination(timeout=120)

    logs = _batch_logs(spark, log_dir)
    exp_section = [
        (r.section_id, r.name, r.section_pv, STAT_TIME)
        for r in hot_section_agg(logs, section_dim)
        .orderBy(F.desc("section_pv"), F.asc("section_id"))
        .limit(10)
        .collect()
    ]
    exp_article_n = (
        hot_article_agg(logs, article_dim)
        .orderBy(F.desc("article_pv"), F.asc("article_id"))
        .limit(10)
        .count()
    )
    exp_ip = {
        r.client_ip: r.client_access_cnt
        for r in client_ip_access_agg(logs).collect()
    }
    with sqlite3.connect(db) as conn:
        got_section = conn.execute(
            "SELECT section_id, name, section_pv, statistic_time "
            "FROM hot_section ORDER BY section_pv DESC, section_id"
        ).fetchall()
        got_article_n = conn.execute(
            "SELECT COUNT(*) FROM hot_article"
        ).fetchone()[0]
        got_ip = dict(
            conn.execute(
                "SELECT client_ip, client_access_cnt FROM client_ip_access"
            ).fetchall()
        )
    assert got_section == exp_section
    assert got_article_n == exp_article_n == 10
    assert got_ip == exp_ip and len(got_ip) > 0


def test_lookup_stream_sees_dim_updates_within_ttl(spark, tmp_path):
    """B5 live-lookup semantics: the per-batch dim refresh through
    DimCache over sqlite3 means a dim row updated between micro-batches
    is reflected in the next batch's join output (Flink's lookup join
    with lookup.cache.ttl), while the stream's keyed state — counts
    only, no dim attributes — accumulates across the update."""
    import sqlite3

    from flink_log_analysis_spark.sources.io import DimCache, read_dbapi_dim
    from flink_log_analysis_spark.streaming.runner import (
        parsed_log_stream,
        read_log_file_stream,
        start_lookup_upsert_stream,
    )

    db = str(tmp_path / "dim.db")
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE pre_forum_forum (fid INTEGER, name TEXT)")
        conn.executemany(
            "INSERT INTO pre_forum_forum VALUES (?, ?)",
            [(i, f"old-{i}") for i in range(1, N_SECTIONS + 1)],
        )
        conn.commit()

    def factory(path=db):
        import sqlite3 as s

        return s.connect(path, timeout=30)

    cache = DimCache(
        lambda: read_dbapi_dim(
            spark, factory, "pre_forum_forum", "fid int, name string"
        ),
        ttl_seconds=1000,
    )

    land = tmp_path / "land"
    land.mkdir()
    write_log_file(str(land / "a.log"), 150, seed=31)

    sink = MemoryUpsertSink(["section_id"], complete=True)
    lines = read_log_file_stream(spark, str(land), max_files_per_trigger=1)
    logs = parsed_log_stream(lines)
    agg = (
        logs.filter(F.col("sectionId") != 0)
        .groupBy(F.col("sectionId").alias("section_id"))
        .agg(F.count(F.lit(1)).alias("section_pv"))
    )
    q = start_lookup_upsert_stream(
        agg,
        cache,
        lambda b, d: b.section_id == d.fid,
        lambda b, d: [b.section_id, d.name, b.section_pv],
        sink,
        str(tmp_path / "ckpt"),
        top_k=10,
        order_by=[F.desc("section_pv"), F.asc("section_id")],
        stat_time=STAT_TIME,
    )
    try:
        q.processAllAvailable()
        first = {d["section_id"]: d["name"] for d in sink.state.values()}
        assert first and all(n.startswith("old-") for n in first.values())

        # dim UPDATE between micro-batches + cache expiry (TTL elapsed)
        with sqlite3.connect(db) as conn:
            conn.execute("UPDATE pre_forum_forum SET name = 'new-' || fid")
            conn.commit()
        cache.ttl = 0.0
        write_log_file(str(land / "b.log"), 150, seed=32)
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        d["section_id"]: (d["name"], d["section_pv"])
        for d in sink.state.values()
    }
    assert got and all(n.startswith("new-") for n, _ in got.values())

    # counts accumulated ACROSS the dim update == batch over all files
    logs_b = _batch_logs(spark, str(land))
    exp = {
        r.section_id: r.section_pv
        for r in logs_b.filter(F.col("sectionId") != 0)
        .groupBy(F.col("sectionId").alias("section_id"))
        .agg(F.count(F.lit(1)).alias("section_pv"))
        .orderBy(F.desc("section_pv"), F.asc("section_id"))
        .limit(10)
        .collect()
    }
    assert {k: pv for k, (_, pv) in got.items()} == exp


def test_lookup_upsert_top_k_requires_order_by():
    # Construction-time guard: orderBy(*None) inside foreachBatch would
    # otherwise only surface as an opaque StreamingQueryException at
    # the first micro-batch. The guard fires before any DataFrame use,
    # so dummies suffice.
    import pytest as _pytest

    from flink_log_analysis_spark.streaming.runner import (
        start_lookup_upsert_stream,
        start_upsert_stream,
    )

    with _pytest.raises(ValueError, match="top_k requires order_by"):
        start_lookup_upsert_stream(
            None, None, None, None, None, "/tmp/ckpt-unused", top_k=10
        )
    with _pytest.raises(ValueError, match="top_k requires order_by"):
        start_upsert_stream(None, None, "/tmp/ckpt-unused", top_k=10)


def test_checkpoint_recovery_sqlite_sink_no_double_count(spark, tmp_path):
    """B2 restart evidence against a REAL database: run the unbounded
    per-IP count stream into a sqlite3 sink, stop it, land more data,
    restart from the SAME checkpoint — the DB's final keyed state must
    equal the batch twin over all input (state resumed, nothing
    double-counted). Then replay the final batch through the writer
    explicitly: the keyed upsert is idempotent, so a checkpoint-replayed
    batch (stop between sink commit and checkpoint commit) leaves the
    table unchanged — the property exactly-once-at-the-sink rests on."""
    import sqlite3

    from flink_log_analysis_spark.streaming.runner import (
        parsed_log_stream,
        read_log_file_stream,
        start_upsert_stream,
    )
    from flink_log_analysis_spark.streaming.upsert import jdbc_upsert_writer

    land = tmp_path / "land"
    land.mkdir()
    ckpt = str(tmp_path / "ckpt_sqlite")
    db = str(tmp_path / "sink.db")
    with sqlite3.connect(db) as conn:
        conn.execute(
            "CREATE TABLE client_ip_access (client_ip TEXT PRIMARY KEY, "
            "client_access_cnt INTEGER, statistic_time TEXT)"
        )
        conn.commit()

    def factory(path=db):
        import sqlite3 as s

        return s.connect(path, timeout=30)

    sink = jdbc_upsert_writer(
        factory, "client_ip_access", ["client_ip"], dialect="postgres"
    )

    def start():
        lines = read_log_file_stream(spark, str(land), max_files_per_trigger=1)
        agg = client_ip_access_agg(parsed_log_stream(lines))
        return start_upsert_stream(agg, sink, ckpt, stat_time=STAT_TIME)

    write_log_file(str(land / "a.log"), 200, seed=30)
    q = start()
    q.processAllAvailable()
    q.stop()

    write_log_file(str(land / "b.log"), 200, seed=31)
    q2 = start()
    q2.processAllAvailable()
    q2.stop()

    logs = _batch_logs(spark, str(land))
    exp = {
        r.client_ip: r.client_access_cnt
        for r in client_ip_access_agg(logs).collect()
    }

    def table_state():
        with sqlite3.connect(db) as conn:
            return dict(
                conn.execute(
                    "SELECT client_ip, client_access_cnt "
                    "FROM client_ip_access"
                ).fetchall()
            )

    got = table_state()
    assert got == exp and len(got) > 0

    # Explicit batch replay through the same writer: idempotent.
    replay = client_ip_access_agg(logs).withColumn(
        "statistic_time", F.lit(STAT_TIME)
    )
    sink(replay, batch_id=999)
    assert table_state() == exp


CHECKPOINTING = "org.apache.spark.sql.execution.streaming.checkpointing"
FILE_CONTEXT_MANAGER = f"{CHECKPOINTING}.FileContextBasedCheckpointFileManager"


def _checkpoint_manager(spark, path):
    """The checkpoint file manager a stream started now would write
    ``path`` through (Spark resolves it from the session's conf)."""
    jvm = spark._jvm
    return getattr(jvm, CHECKPOINTING).CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )


def _file_context_checkpoints(spark):
    return scoped_conf(
        spark, {"spark.sql.streaming.checkpointFileManagerClass": FILE_CONTEXT_MANAGER}
    )


def test_session_writes_checkpoints_through_filesystem_manager(spark, tmp_path):
    """Engine sessions write stream checkpoints with FileSystem create +
    rename, not Spark's FileContext default (which forks a process per
    checkpoint file on hosts without libhadoop)."""
    name = _checkpoint_manager(spark, tmp_path).getClass().getName()
    assert name == f"{CHECKPOINTING}.FileSystemBasedCheckpointFileManager"
    with _file_context_checkpoints(spark):
        assert _checkpoint_manager(spark, tmp_path).getClass().getName() == (
            FILE_CONTEXT_MANAGER
        )


def test_checkpoint_manager_refuses_to_overwrite_batch_file(spark, tmp_path):
    """The metadata logs' exactly-once guard: an atomic create without
    overwrite onto an existing file fails on close and keeps the old
    bytes."""
    from py4j.protocol import Py4JJavaError

    manager = _checkpoint_manager(spark, tmp_path)
    target = spark._jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0"))
    out = manager.createAtomic(target, False)
    out.write(bytearray(b"first"))
    out.close()
    out = manager.createAtomic(target, False)
    out.write(bytearray(b"second"))
    with pytest.raises(Py4JJavaError, match="already exists"):
        out.close()
    assert (tmp_path / "0").read_bytes() == b"first"


@pytest.mark.parametrize("first", ["session_default", "file_context"])
def test_checkpoint_restart_across_managers(spark, tmp_path, first):
    """A checkpoint written under one file manager restarts under the
    other: the batch ids continue, nothing is counted twice, and the
    sink equals the batch oracle over all input."""
    from contextlib import nullcontext

    from flink_log_analysis_spark.streaming.runner import (
        parsed_log_stream,
        read_log_file_stream,
        start_upsert_stream,
    )

    land = tmp_path / "land"
    land.mkdir()
    ckpt = str(tmp_path / "ckpt")
    sink = MemoryUpsertSink(["client_ip"])

    def run(managers):
        with managers:
            lines = read_log_file_stream(spark, str(land), max_files_per_trigger=1)
            agg = client_ip_access_agg(parsed_log_stream(lines))
            q = start_upsert_stream(agg, sink, ckpt, stat_time=STAT_TIME)
        q.processAllAvailable()
        q.stop()

    file_context_first = first == "file_context"
    write_log_file(str(land / "a.log"), 200, seed=40)
    write_log_file(str(land / "b.log"), 200, seed=41)
    run(_file_context_checkpoints(spark) if file_context_first else nullcontext())
    batches_before = set(sink.applied_batches)

    write_log_file(str(land / "c.log"), 200, seed=42)
    run(nullcontext() if file_context_first else _file_context_checkpoints(spark))

    new_batches = set(sink.applied_batches) - batches_before
    assert new_batches and min(new_batches) > max(batches_before)
    logs = _batch_logs(spark, str(land))
    exp = client_ip_access_agg(logs).withColumn("statistic_time", F.lit(STAT_TIME))
    assert _rows(sink.to_df(spark), "client_ip") == _rows(exp, "client_ip")


def test_uncommitted_batch_replays_over_existing_state_file(spark, tmp_path):
    """Death between the WAL and the commit: with the last ``commits/N``
    gone, a restart re-runs batch N, whose state delta is already on
    disk, and the sqlite sink still equals the batch oracle."""
    import glob
    import sqlite3

    from flink_log_analysis_spark.streaming.runner import (
        parsed_log_stream,
        read_log_file_stream,
        start_upsert_stream,
    )
    from flink_log_analysis_spark.streaming.upsert import jdbc_upsert_writer

    land = tmp_path / "land"
    land.mkdir()
    ckpt = tmp_path / "ckpt"
    db = str(tmp_path / "sink.db")
    with sqlite3.connect(db) as conn:
        conn.execute(
            "CREATE TABLE client_ip_access (client_ip TEXT PRIMARY KEY, "
            "client_access_cnt INTEGER, statistic_time TEXT)"
        )
    write = jdbc_upsert_writer(
        lambda: sqlite3.connect(db, timeout=30),
        "client_ip_access", ["client_ip"], dialect="postgres",
    )
    batch_ids = []

    def sink(df, batch_id):
        batch_ids.append(batch_id)
        write(df, batch_id)

    def run():
        lines = read_log_file_stream(spark, str(land), max_files_per_trigger=1)
        agg = client_ip_access_agg(parsed_log_stream(lines))
        q = start_upsert_stream(agg, sink, str(ckpt), stat_time=STAT_TIME)
        q.processAllAvailable()
        q.stop()

    write_log_file(str(land / "a.log"), 200, seed=50)
    write_log_file(str(land / "b.log"), 200, seed=51)
    run()
    last = max(batch_ids)
    # Batch N commits state version N + 1.
    assert glob.glob(str(ckpt / "state" / "0" / "*" / f"{last + 1}.delta"))
    (ckpt / "commits" / str(last)).unlink()
    (ckpt / "commits" / f".{last}.crc").unlink()

    write_log_file(str(land / "c.log"), 200, seed=52)
    del batch_ids[:]
    run()
    assert batch_ids[0] == last and max(batch_ids) > last

    exp = {
        r.client_ip: r.client_access_cnt
        for r in client_ip_access_agg(_batch_logs(spark, str(land))).collect()
    }
    with sqlite3.connect(db) as conn:
        got = dict(
            conn.execute(
                "SELECT client_ip, client_access_cnt FROM client_ip_access"
            ).fetchall()
        )
    assert got == exp and len(got) > 0


def test_bucketed_parquet_upsert_sink_rewrites_only_affected_buckets(
    spark, tmp_path
):
    """BucketedParquetUpsertSink: MERGE semantics identical to the
    whole-state sink, but a batch rewrites ONLY the hash buckets
    holding its updated keys — an unaffected bucket's files are
    byte-untouched across the batch (names AND mtimes), which is the
    whole point at billions of keys. Also pins replay idempotence and
    end-to-end use as a real foreachBatch sink."""
    import glob
    import os

    from flink_log_analysis_spark.streaming.upsert import (
        BucketedParquetUpsertSink,
    )

    path = str(tmp_path / "state")
    sink = BucketedParquetUpsertSink(path, ["k"], n_buckets=8)
    keys = [f"key{i}" for i in range(64)]
    b0 = spark.createDataFrame(
        [(k, 1) for k in keys], "k string, v int"
    )
    sink(b0, 0)
    got = {r["k"]: r["v"] for r in sink.read(spark).collect()}
    assert got == {k: 1 for k in keys}
    buckets = sorted(
        d for d in os.listdir(path) if d.startswith("_bucket=")
    )
    assert 1 < len(buckets) <= 8
    # batch 1 updates ONE key: find its bucket, snapshot another's files
    from pyspark.sql import functions as F

    target = "key7"
    tb = spark.createDataFrame([(target,)], "k string").select(
        F.pmod(F.xxhash64("k"), F.lit(8)).cast("int").alias("b")
    ).first()["b"]
    untouched = next(
        d for d in buckets if d != f"_bucket={tb}"
    )
    def snap(d):
        return {
            f: os.path.getmtime(f)
            for f in glob.glob(f"{path}/{d}/*.parquet")
        }
    before = snap(untouched)
    assert before
    sink(spark.createDataFrame([(target, 99)], "k string, v int"), 1)
    assert snap(untouched) == before  # never opened for write
    got = {r["k"]: r["v"] for r in sink.read(spark).collect()}
    assert got[target] == 99 and got["key0"] == 1 and len(got) == 64
    # replay of batch 1: same buckets, same contents (idempotent)
    sink(spark.createDataFrame([(target, 99)], "k string, v int"), 1)
    got2 = {r["k"]: r["v"] for r in sink.read(spark).collect()}
    assert got2 == got
    # end-to-end as a real foreachBatch sink: stream-final state
    # equals the MemoryUpsertSink's over the same input
    import shutil as _sh

    from flink_log_analysis_spark.session import shared_tmp_dir
    from flink_log_analysis_spark.streaming.runner import (
        start_upsert_stream,
    )

    work = shared_tmp_dir("bucketed_sink_")
    try:
        ev = spark.createDataFrame(
            [(f"u{i % 37}", i) for i in range(500)], "user string, n long"
        )
        ev.write.mode("overwrite").parquet(f"{work}/in")
        stream = (
            spark.readStream.schema("user string, n long")
            .parquet(f"{work}/in")
        )
        agg = stream.groupBy("user").agg(F.count(F.lit(1)).alias("c"))
        bsink = BucketedParquetUpsertSink(f"{work}/state", ["user"], 8)
        q = start_upsert_stream(
            agg, bsink, f"{work}/ckpt",
            stat_time="1970-01-01 00:00:00", available_now=True,
        )
        assert q.awaitTermination(timeout=300)
        final = {
            r["user"]: r["c"] for r in bsink.read(spark).collect()
        }
        exp = {
            r["user"]: r["c"]
            for r in ev.groupBy("user")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
        assert final == exp
    finally:
        _sh.rmtree(work, ignore_errors=True)
