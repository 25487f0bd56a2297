"""Keyed upsert sinks for streaming queries.

The reference's sinks are MySQL tables with ``PRIMARY KEY ... NOT
ENFORCED`` — Flink interprets INSERT INTO them as *upsert by key*, so
the table always holds the current value per key
(``LogAnalysis.java:100-115, 156-171, 220-237``; SURVEY §2.B B2,
§2.E.5). Spark expresses that as ``foreachBatch`` + an idempotent
keyed MERGE:

- :func:`jdbc_upsert_statement` — the production SQL (MySQL
  ``ON DUPLICATE KEY UPDATE`` / ANSI-ish ``ON CONFLICT``), executed
  by :func:`jdbc_upsert_writer` from the driver, one transaction per
  micro-batch, through any DB-API connection factory;
- :class:`ParquetUpsertSink` — keyed overwrite on files (anti-join old
  state against the new batch, union, rewrite) — the Delta-``MERGE``
  shape without requiring Delta in this container;
- :class:`MemoryUpsertSink` — driver-side dict for tests and for
  returning stream-final state as a DataFrame.

All three are idempotent under batch replay: re-applying a batch
leaves the keyed state unchanged (last-writer-wins per key within a
batch, deterministic because each batch df is already aggregated by
key), which is what makes restarts + checkpointing exactly-once at
the sink level.

Scale notes: the streamed batches that reach these sinks are
*post-aggregation* (one row per group key), so sink volume is bounded
by key cardinality, not input rate. ParquetUpsertSink rewrites the
whole keyed state per batch — correct for the reference's small sink
tables (10-row toplists, per-IP counts); past that,
:class:`BucketedParquetUpsertSink` hash-buckets the state and
rewrites only the buckets a batch touches (per-batch IO O(affected
buckets + batch), never O(state) — the Delta/Iceberg MERGE cost
shape on plain parquet), and a deployment with a lakehouse table
swaps in the real MERGE via the same foreachBatch contract.
"""

from __future__ import annotations

import glob
import os
import shutil
import threading

from pyspark.sql import DataFrame, SparkSession


def jdbc_upsert_statement(
    table: str,
    columns: list[str],
    key_columns: list[str],
    dialect: str = "mysql",
) -> str:
    """Parameterized upsert SQL matching the reference's sink semantics.

    MySQL dialect reproduces what Flink's JDBC connector emits for a
    PK-declared sink (``INSERT ... ON DUPLICATE KEY UPDATE``); the
    ``postgres`` dialect is the ANSI ``ON CONFLICT`` twin.
    """
    col_list = ", ".join(columns)
    placeholders = ", ".join(["?"] * len(columns))
    non_keys = [c for c in columns if c not in key_columns]
    if dialect == "mysql":
        # Key-only table: upsert degenerates to "ignore existing" —
        # MySQL needs a no-op assignment to keep the syntax valid.
        updates = (
            ", ".join(f"{c} = VALUES({c})" for c in non_keys)
            or f"{key_columns[0]} = {key_columns[0]}"
        )
        return (
            f"INSERT INTO {table} ({col_list}) VALUES ({placeholders}) "
            f"ON DUPLICATE KEY UPDATE {updates}"
        )
    if dialect == "postgres":
        keys = ", ".join(key_columns)
        if not non_keys:
            return (
                f"INSERT INTO {table} ({col_list}) VALUES ({placeholders}) "
                f"ON CONFLICT ({keys}) DO NOTHING"
            )
        updates = ", ".join(f"{c} = EXCLUDED.{c}" for c in non_keys)
        return (
            f"INSERT INTO {table} ({col_list}) VALUES ({placeholders}) "
            f"ON CONFLICT ({keys}) DO UPDATE SET {updates}"
        )
    raise ValueError(f"unknown dialect: {dialect}")


def jdbc_upsert_writer(connection_factory, table: str, key_columns: list[str],
                       dialect: str = "mysql", batch_size: int = 500):
    """foreachBatch function upserting each micro-batch in ONE
    transaction, from the driver.

    The batches reaching a sink are post-aggregation keyed rows (≤ 10
    for a top-10 toplist, one per updated key otherwise), so the batch
    comes to the driver through Arrow and is written over a single
    ``connection_factory()`` connection: ``executemany`` in chunks of
    ``batch_size`` rows, then one commit. A batch lands all-or-nothing —
    on any error the connection closes without committing and the
    table keeps its prior state, which checkpoint replay of the batch
    then completes (the upsert is idempotent). ``connection_factory``
    is any zero-arg callable returning a DB-API connection; the tests
    drive it against stdlib sqlite3, which speaks the ``postgres``
    dialect.
    """

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.toArrow()
        sql = jdbc_upsert_statement(table, batch.column_names, key_columns,
                                    dialect)
        rows = list(zip(*(c.to_pylist() for c in batch.columns)))
        conn = connection_factory()
        try:
            cur = conn.cursor()
            for i in range(0, len(rows), batch_size):
                cur.executemany(sql, rows[i:i + batch_size])
            conn.commit()
        finally:
            conn.close()

    return apply


class BucketedParquetUpsertSink:
    """Keyed-overwrite parquet sink with BUCKET-granular rewrites —
    the billions-of-keys shape :class:`ParquetUpsertSink` honestly
    says it is not (it rewrites the WHOLE keyed state per batch;
    right for the reference's 10-row toplists, ruinous at scale).

    State lives hash-bucketed on disk (``_bucket = pmod(xxhash64(
    keys), n_buckets)`` as a partition column), and a batch rewrites
    ONLY the buckets that hold its updated keys: the prior-state read
    is partition-pruned to those buckets, the merge (anti-join +
    union — the same MERGE semantics) touches only their rows, and
    the write is a dynamic-partition overwrite of exactly those
    directories. Untouched buckets' files are never opened, read, or
    rewritten — per-batch IO is O(state/n_buckets × affected buckets
    + batch), not O(state). This is the cost shape a Delta/Iceberg
    MERGE gives, on plain parquet; a deployment sizes ``n_buckets``
    so one bucket ≈ a comfortable task (the shuffle-partition-sizing
    discipline applied to sink state).

    Idempotent under batch replay like its siblings: re-applying a
    batch anti-joins away the same keys and rewrites the same buckets
    to the same contents (xxhash64 is seed-fixed, so bucket routing
    is deterministic across restarts). Crash posture: the overwrite
    stages under Spark's job-commit protocol, so a crash mid-batch
    leaves the prior buckets intact and checkpoint replay of the
    batch completes the rewrite; on an object store without atomic
    rename the same caveat applies as any dynamic-partition
    overwrite there.
    """

    BUCKET_COL = "_bucket"

    def __init__(self, path: str, key_columns: list[str],
                 n_buckets: int = 64):
        self.path = path
        self.key_columns = list(key_columns)
        self.n_buckets = int(n_buckets)

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        return df.withColumn(
            self.BUCKET_COL,
            F.pmod(
                F.xxhash64(*self.key_columns), F.lit(self.n_buckets)
            ).cast("int"),
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        spark = batch_df.sparkSession
        batch = self._with_bucket(batch_df)
        affected = sorted(
            r[0]
            for r in batch.select(self.BUCKET_COL).distinct().collect()
        )
        if not affected:
            return
        merged = batch
        if os.path.exists(self.path):
            keep = (
                spark.read.parquet(self.path)
                # partition-pruned: only the affected buckets' files
                # enter the scan
                .filter(F.col(self.BUCKET_COL).isin(affected))
                .join(
                    batch.select(*self.key_columns).distinct(),
                    on=self.key_columns,
                    how="left_anti",
                )
            )
            merged = keep.unionByName(batch)
        # materialize BEFORE the overwrite: `merged` lazily reads the
        # same bucket directories the write replaces (bounded rows —
        # the affected buckets' state + the post-aggregation batch)
        merged = merged.localCheckpoint(eager=True)
        (
            merged.repartition(len(affected), self.BUCKET_COL)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(self.BUCKET_COL)
            .parquet(self.path)
        )

    def read(self, spark: SparkSession) -> DataFrame | None:
        if not os.path.exists(self.path):
            return None
        try:
            return spark.read.parquet(self.path).drop(self.BUCKET_COL)
        except Exception:
            return None


class MemoryUpsertSink:
    """Driver-side keyed state for tests / final-state extraction.

    The batches Structured Streaming hands to foreachBatch are small
    keyed aggregates here; collecting them on the driver mirrors what
    the reference's MySQL table holds, and lets tests compare
    stream-final state against the batch twin exactly (SURVEY §5.3).
    """

    def __init__(self, key_columns: list[str], complete: bool = False,
                 schema=None):
        self.key_columns = list(key_columns)
        self.complete = complete  # complete-mode batches replace all state
        self.state: dict[tuple, dict] = {}
        self.applied_batches: set[int] = set()
        self._lock = threading.Lock()
        # Optional declared schema so to_df works even when the stream
        # produced zero batches (e.g. an empty source directory).
        self._schema = schema

    @staticmethod
    def _collect_dicts(batch_df: DataFrame) -> list[dict]:
        """Batch rows as plain-Python dicts, Arrow-batched: at the
        per-key sink volumes the wide-state streams produce (27k keys
        for the per-IP counter at sf0.1), collect()'s per-Row pickling
        is the micro-batch's single largest cost (measured 0.70 s of a
        1.35 s drain — the r13 outlier diagnosis), while the Arrow
        transfer + ``to_pylist`` is a few tens of ms and yields the
        SAME value types as ``Row.asDict`` (datetime/Decimal/list —
        pyarrow's pylist conversion, not pandas' NaN-ing one). Falls
        back to collect for any type Arrow can't carry."""
        try:
            return batch_df.toArrow().to_pylist()
        except Exception:  # noqa: BLE001 — exotic type: take the slow path
            return [row.asDict() for row in batch_df.collect()]

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        dicts = self._collect_dicts(batch_df)
        with self._lock:
            if batch_id in self.applied_batches:
                return  # replayed batch after restart: idempotent skip
            self._schema = batch_df.schema
            if self.complete:
                self.state.clear()
            for d in dicts:
                key = tuple(d[k] for k in self.key_columns)
                self.state[key] = d
            self.applied_batches.add(batch_id)

    def to_df(self, spark: SparkSession) -> DataFrame:
        if self._schema is None:
            raise ValueError(
                "sink received no batches and no schema was declared; "
                "pass schema= at construction to support empty streams"
            )
        values = list(self.state.values())
        try:
            # Arrow table ingestion: 5x faster than the list-of-dicts
            # path at the wide-state sinks' volumes (measured 0.75 s
            # vs 3.8 s at 27k rows) and value-identical — naive
            # datetimes read in the pinned UTC session zone, None
            # round-trips as null. Fallback covers types the arrow
            # schema conversion can't express.
            import pyarrow as pa
            from pyspark.sql.pandas.types import to_arrow_schema

            if values:
                return spark.createDataFrame(
                    pa.Table.from_pylist(
                        values, schema=to_arrow_schema(self._schema)
                    )
                )
        except Exception:  # noqa: BLE001 — exotic type: take the slow path
            pass
        return spark.createDataFrame(values, self._schema)


class ParquetUpsertSink:
    """Keyed-overwrite parquet sink: MERGE semantics on plain files.

    Reads prior state, anti-joins it against the incoming batch on the
    key columns, unions, and rewrites atomically (tmp dir + rename).
    This is exactly Delta's ``MERGE WHEN MATCHED UPDATE WHEN NOT
    MATCHED INSERT`` for a full-row update, kept dependency-free.
    """

    def __init__(self, path: str, key_columns: list[str]):
        self.path = path
        self.key_columns = list(key_columns)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        current = self.read(spark)
        if current is not None:
            keep = current.join(
                batch_df.select(*self.key_columns).distinct(),
                on=self.key_columns,
                how="left_anti",
            )
            merged = keep.unionByName(batch_df)
        else:
            merged = batch_df
        # Materialize to a tmp dir first: `merged` lazily reads the
        # current state at self.path, so overwriting in place would
        # race the scan against the rewrite. Then swap directories
        # with renames — a crash can leave a stale tmp/old dir behind
        # but never an empty/partial live path (the read() fallback
        # plus checkpoint replay of the last batch recovers those).
        tmp = f"{self.path}__tmp_batch_{batch_id}"
        old = f"{self.path}__old_batch_{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        if os.path.exists(self.path):
            os.rename(self.path, old)
        os.rename(tmp, self.path)
        shutil.rmtree(old, ignore_errors=True)

    def read(self, spark: SparkSession) -> DataFrame | None:
        if not os.path.exists(self.path):
            # Crash window between the two renames: the previous state
            # survives under the __old name — restore the NEWEST by
            # numeric batch id (lexicographic glob order would pick
            # '__old_batch_9' over '__old_batch_10').
            leftovers = sorted(
                glob.glob(f"{self.path}__old_batch_*"),
                key=lambda p: int(p.rsplit("_", 1)[1]),
            )
            if leftovers:
                os.rename(leftovers[-1], self.path)
            else:
                return None
        try:
            return spark.read.parquet(self.path)
        except Exception:
            return None
