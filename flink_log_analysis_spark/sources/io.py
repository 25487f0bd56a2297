"""Batch/stream sources and sinks (SURVEY §7 M4).

The reference's IO surface: Kafka string source
(``LogAnalysis.java:53-70``), JDBC dim scans with a lookup cache
(``:138-152, 199-215``), JDBC upsert sinks (``:100-115``), and a text
sample file. This module provides the Spark-idiomatic equivalents plus
the batch formats any engine user needs (text/csv/json/parquet), a
TTL-cached dim reader reproducing Flink's lookup-cache semantics, and
the rate source for load tests.

Scale notes: all file readers go through Spark's datasource v2 —
splittable scans, column pruning, predicate pushdown into parquet
footers; `maxPartitionBytes` controls split sizing at 100 TB. The dim
reader deliberately materializes on the driver and broadcasts: the
reference's dims are point-lookup tables (≤ thousands of rows), so
shipping a hash map to every executor beats shuffling the fact side,
at any fact scale.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_text_lines(spark: SparkSession, path: str, line_col: str = "line") -> DataFrame:
    """Raw log lines from text files (the batch twin of the Kafka
    source; the reference's ``access_log.txt`` ingest path)."""
    return spark.read.text(path).withColumnRenamed("value", line_col)


def read_csv(
    spark: SparkSession, path: str, schema: str | None = None, header: bool = True
) -> DataFrame:
    """CSV with explicit schema preferred — schema inference is a full
    extra pass over the data (never at 100 TB)."""
    reader = spark.read.option("header", header)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_parquet(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    """Parquet scan; explicit column selection right at the source so
    ReadSchema prunes to exactly what downstream uses."""
    df = spark.read.parquet(path)
    return df.select(*columns) if columns else df


def read_dbapi_dim(
    spark: SparkSession,
    connection_factory,
    table: str,
    schema: str,
    query: str | None = None,
) -> DataFrame:
    """Dimension read through any DB-API connection — the read twin of
    ``streaming.upsert.jdbc_upsert_writer``'s ``connection_factory``
    seam (B1, ``LogAnalysis.java:138-152, 199-215``).

    The SELECT executes once, on the DRIVER: a dim is by contract a
    small point-lookup table (the reference's forum/section MySQL
    tables), so this is the same single-connection point query Flink's
    lookup source issues. The rows go through Arrow into a
    ``LocalRelation``: the snapshot lives in the JVM, so every query
    that broadcasts it (each micro-batch of a stream-static join) reads
    those local rows instead of re-running a Python job. ``schema`` is
    an explicit DDL string (DB-API drivers don't expose reliable column
    types, and the repo's rule is no inference passes anyway); a value
    the DDL type cannot hold raises here, at read time. NOT for fact
    tables: anything that doesn't comfortably fit on the driver belongs
    to the partitioned JDBC scan path below.

    ``connection_factory`` is any zero-arg callable returning a DB-API
    connection — stdlib ``sqlite3.connect`` in tests, a mysql
    connector partial in a jar-less deployment.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    conn = connection_factory()
    try:
        cur = conn.cursor()
        cur.execute(query or f"SELECT * FROM {table}")  # noqa: S608 — dim
        # table names are deployment config, not user input
        rows = cur.fetchall()
    finally:
        conn.close()
    records = [dict(zip(struct.names, r, strict=True)) for r in rows]
    return spark.createDataFrame(
        pa.Table.from_pylist(records, schema=to_arrow_schema(struct))
    )


def read_jdbc_dim(
    spark: SparkSession,
    url: str | None = None,
    table: str = "",
    properties: dict | None = None,
    partition_column: str | None = None,
    num_partitions: int = 1,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    connection_factory=None,
    schema: str | None = None,
) -> DataFrame:
    """JDBC dim scan (B1, ``LogAnalysis.java:138-152``).

    Small dims read in one partition (a single point query against the
    DB, like Flink's lookup source); larger tables parallelize with
    ``partition_column`` + bounds. The Spark-JDBC path requires the
    driver jar on the cluster classpath; passing ``connection_factory``
    (+ explicit ``schema``) routes through :func:`read_dbapi_dim`
    instead, which any DB-API database satisfies — that path is
    exercised end-to-end against stdlib sqlite3 in
    ``tests/test_io.py`` (same seam the upsert sink uses).
    """
    if connection_factory is not None:
        if schema is None:
            raise ValueError("connection_factory path requires explicit schema")
        return read_dbapi_dim(spark, connection_factory, table, schema)
    if url is None:
        raise ValueError("url is required without a connection_factory")
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", num_partitions)
            .option("lowerBound", lower_bound)
            .option("upperBound", upper_bound)
        )
    return reader.load()


class DimCache:
    """TTL-cached broadcastable dimension — Flink's lookup cache
    (``'lookup.cache.ttl' = '10'``, ``LogAnalysis.java:211-212``) as an
    explicit object.

    ``loader`` is any zero-arg callable returning the current dim
    DataFrame (JDBC read, file read, ...). ``get`` returns a *cached
    materialized* snapshot, re-loading after ``ttl_seconds``. Used from
    foreachBatch loops: each micro-batch joins against the snapshot,
    which is exactly the reference's AS-OF-proctime lookup semantics
    with bounded dim staleness.
    """

    def __init__(self, loader, ttl_seconds: float = 10.0, max_rows: int | None = None):
        self.loader = loader
        self.ttl = ttl_seconds
        self.max_rows = max_rows
        self._df: DataFrame | None = None
        self._loaded_at = 0.0

    def get(self) -> DataFrame:
        now = time.monotonic()
        if self._df is None or (now - self._loaded_at) > self.ttl:
            df = self.loader()
            if self.max_rows is not None:
                df = df.limit(self.max_rows)
            # Materialize the snapshot so every use inside the TTL
            # window sees one consistent dim version (and the source
            # is hit once per refresh, not once per join).
            df = df.cache()
            df.count()
            if self._df is not None:
                self._df.unpersist()
            self._df = df
            self._loaded_at = now
        return self._df

    def broadcast(self):
        return F.broadcast(self.get())


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
    align_partitions: bool = False,
) -> None:
    """Persist as a bucketed (+ optionally sorted) table — managed, or
    external when ``path`` is given. THE single bucketed-write
    implementation (operators.bucketing wraps it).

    Bucketing pre-shuffles the data ONCE at write time: two tables
    bucketed on the same key with the same bucket count join with NO
    exchange at read time — the decisive layout for a fact table that
    is joined on the same key by every downstream query at 100 TB.
    (Requires a catalog/warehouse; Spark's session catalog suffices.)

    ``align_partitions`` repartitions to ``n_buckets`` on the bucket
    columns first, giving one writing task per bucket — one file per
    bucket, which is what lets later merges reuse the per-bucket
    ``sortBy`` order instead of re-sorting.
    """
    if align_partitions:
        df = df.repartition(n_buckets, *bucket_cols)
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)


def rate_stream(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Built-in rate source for load/soak tests of the streaming path."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    target_file_rows: int | None = None,
) -> None:
    """Parquet sink with optional layout control.

    ``partition_by`` gives partition pruning to downstream readers;
    ``target_file_rows`` repartitions to bound file counts/sizes (the
    small-files problem is the classic 100 TB sink failure mode).
    """
    out = df
    if target_file_rows is not None:
        n = max(1, df.count() // target_file_rows)
        out = df.repartition(n, *(partition_by or []))
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
