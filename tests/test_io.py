"""IO layer: file readers/writers, TTL dim cache, rate source."""

import pytest
from pyspark.sql import functions as F

from flink_log_analysis_spark.sources import io


def test_text_roundtrip(spark, tmp_path):
    p = tmp_path / "lines.txt"
    p.write_text("alpha\nbeta\n")
    df = io.read_text_lines(spark, str(p))
    assert df.columns == ["line"]
    assert {r.line for r in df.collect()} == {"alpha", "beta"}


def test_csv_with_schema(spark, tmp_path):
    p = tmp_path / "dim.csv"
    p.write_text("fid,name\n1,general\n2,tech\n")
    df = io.read_csv(spark, str(p), schema="fid int, name string")
    assert dict(df.dtypes) == {"fid": "int", "name": "string"}
    assert df.count() == 2


def test_json_reader(spark, tmp_path):
    p = tmp_path / "d.json"
    p.write_text('{"k": 1, "v": "a"}\n{"k": 2, "v": "b"}\n')
    df = io.read_json(spark, str(p), schema="k int, v string")
    assert {(r.k, r.v) for r in df.collect()} == {(1, "a"), (2, "b")}


def test_parquet_write_partitioned_and_pruned(spark, tmp_path):
    df = spark.range(100).withColumn("part", (F.col("id") % 4).cast("int"))
    path = str(tmp_path / "t.parquet")
    io.write_parquet(df, path, partition_by=["part"])
    back = io.read_parquet(spark, path, columns=["id"])
    assert back.columns == ["id"]
    assert back.count() == 100
    # partition pruning: a part filter must not scan all 4 dirs
    pruned = io.read_parquet(spark, path).filter(F.col("part") == 1)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert pruned.count() == 25
    assert "part" in plan


def test_dim_cache_ttl(spark):
    calls = []

    def loader():
        calls.append(1)
        return spark.createDataFrame([(len(calls),)], "version int")

    cache = io.DimCache(loader, ttl_seconds=1000)
    v1 = cache.get().first().version
    v2 = cache.get().first().version
    assert (v1, v2) == (1, 1) and len(calls) == 1  # within TTL: one load

    cache.ttl = 0.0  # expire immediately -> reload
    v3 = cache.get().first().version
    assert v3 == 2 and len(calls) == 2


def test_dim_cache_max_rows(spark):
    cache = io.DimCache(lambda: spark.range(100), ttl_seconds=1000, max_rows=7)
    assert cache.get().count() == 7


def test_rate_stream_is_streaming(spark):
    df = io.rate_stream(spark, rows_per_second=5)
    assert df.isStreaming
    assert set(df.columns) == {"timestamp", "value"}


def test_jdbc_reader_wiring(spark):
    """No JDBC driver in the container: assert the reader builds with
    the right options up to load() (which needs the driver jar)."""
    import pytest

    with pytest.raises(Exception):
        io.read_jdbc_dim(
            spark, "jdbc:mysql://localhost:3306/forum", "pre_forum_forum",
            properties={"user": "x", "password": "y"},
        ).take(1)


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key join without an Exchange —
    the write-once pre-shuffle that co-locates every downstream join."""
    import pyspark.sql.functions as F

    fact = spark.range(10_000).withColumn("v", F.col("id") % 100)
    dim = spark.range(1_000).withColumn("name", F.concat(F.lit("n"), "id"))
    io.write_bucketed(fact, "b_fact", ["id"], n_buckets=8)
    io.write_bucketed(dim, "b_dim", ["id"], n_buckets=8)
    try:
        f, d = spark.table("b_fact"), spark.table("b_dim")
        # disable broadcast so the join strategy decision is real
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = f.join(d, "id")
            plan = joined._sc._jvm.PythonSQLUtils.explainString(
                joined._jdf.queryExecution(), "formatted"
            )
            assert "Exchange" not in plan, plan
            assert joined.count() == 1_000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_fact")
        spark.sql("DROP TABLE IF EXISTS b_dim")


def test_compact_parquet_reduces_files_preserves_content(
    spark, sf_dir, tmp_path
):
    from flink_log_analysis_spark.operators.maintenance import compact_parquet
    from flink_log_analysis_spark.session import read_table

    path = str(tmp_path / "frag")
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    ev.repartition(40).write.parquet(path)
    import glob as g

    before = len(g.glob(f"{path}/part-*.parquet"))
    assert before >= 30
    want = sorted(map(tuple, spark.read.parquet(path).collect()))
    n_after = compact_parquet(spark, path, target_file_bytes=64 * 1024 * 1024)
    assert n_after < before
    got = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert got == want


def test_compact_parquet_recovers_from_crash_window(spark, sf_dir, tmp_path):
    """Crash between the two renames leaves data only under __compact_old;
    the next call must restore it and still compact successfully. A stale
    non-empty __compact_old alongside a live path must not wedge."""
    import os
    import shutil

    from flink_log_analysis_spark.operators.maintenance import compact_parquet
    from flink_log_analysis_spark.session import read_table

    path = str(tmp_path / "t")
    ev = read_table(spark, sf_dir, "events").select("event_id", "value")
    ev.repartition(8).write.parquet(path)
    want = sorted(map(tuple, spark.read.parquet(path).collect()))
    # simulate the crash window: data lives only under __compact_old
    os.rename(path, f"{path}__compact_old")
    n = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert n >= 1
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == want
    # stale old dir next to a live path must be cleared, not fatal
    shutil.copytree(path, f"{path}__compact_old")
    compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == want


def test_dbapi_dim_read_from_sqlite_drives_hot_section(spark, sf_dir, tmp_path):
    """B1 executable evidence: the dim-read seam against a REAL
    database (stdlib sqlite3) must drive hot_section to the exact
    result the parquet dim produces — read path + join semantics +
    type mapping all on the line (mirrors the B2 upsert sqlite test).
    """
    import sqlite3

    from flink_log_analysis_spark.plans import declared
    from flink_log_analysis_spark.session import read_table

    db = str(tmp_path / "dims.sqlite")
    nation_rows = read_table(spark, sf_dir, "nation").collect()
    with sqlite3.connect(db) as conn:
        conn.execute(
            "CREATE TABLE nation (n_nationkey INTEGER, n_name TEXT, "
            "n_regionkey INTEGER)"
        )
        conn.executemany(
            "INSERT INTO nation VALUES (?, ?, ?)",
            [
                (r.n_nationkey, r.n_name, r.n_regionkey)
                for r in nation_rows
            ],
        )
        conn.commit()

    dim = io.read_jdbc_dim(
        spark,
        table="nation",
        connection_factory=lambda: sqlite3.connect(db),
        schema="n_nationkey bigint, n_name string, n_regionkey bigint",
    )
    assert dim.count() == len(nation_rows)

    got = declared.hot_section(spark, sf_dir, nation=dim).collect()
    want = declared.hot_section(spark, sf_dir).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(want) > 0


def test_dim_cache_over_sqlite_ttl(spark, tmp_path):
    """Lookup-cache TTL semantics over the real DB-API read path: one
    DB hit per TTL window, a reload observes DB-side updates."""
    import sqlite3

    db = str(tmp_path / "ttl.sqlite")
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE d (k INTEGER, v TEXT)")
        conn.execute("INSERT INTO d VALUES (1, 'a')")
        conn.commit()

    hits = []

    def factory():
        hits.append(1)
        return sqlite3.connect(db)

    cache = io.DimCache(
        lambda: io.read_dbapi_dim(
            spark, factory, "d", "k bigint, v string"
        ),
        ttl_seconds=1000,
    )
    assert cache.get().first().v == "a"
    assert cache.get().first().v == "a"
    assert len(hits) == 1  # within TTL: a single point query

    with sqlite3.connect(db) as conn:
        conn.execute("UPDATE d SET v = 'b'")
        conn.commit()
    cache.ttl = 0.0
    assert cache.get().first().v == "b"  # expiry reloads from the DB
    assert len(hits) == 2


def test_dbapi_dim_snapshot_is_local_relation_with_ddl_schema(spark, tmp_path):
    """The dim snapshot is a LocalRelation in the JVM (a broadcast of it
    re-runs no Python job), typed exactly by the DDL — names, types and
    nullability — also when the table is empty; a value the DDL type
    cannot hold raises at read time."""
    import sqlite3

    from pyspark.sql.types import StructType

    db = str(tmp_path / "dim.sqlite")
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE d (k INTEGER, v TEXT)")
        conn.execute("CREATE TABLE empty (k INTEGER, v TEXT)")
        conn.execute("CREATE TABLE bad (k TEXT, v TEXT)")
        conn.executemany("INSERT INTO d VALUES (?, ?)", [(1, "a"), (2, None)])
        conn.execute("INSERT INTO bad VALUES ('not-a-number', 'x')")
        conn.commit()
    ddl = "k int, v string"

    def read(table):
        return io.read_dbapi_dim(spark, lambda: sqlite3.connect(db), table, ddl)

    dim = read("d")
    plan = dim._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert dim.schema == StructType.fromDDL(ddl)
    assert sorted(map(tuple, dim.collect())) == [(1, "a"), (2, None)]

    empty = read("empty")
    assert empty.schema == StructType.fromDDL(ddl)
    assert empty.count() == 0

    with pytest.raises((TypeError, ValueError)):
        read("bad")
