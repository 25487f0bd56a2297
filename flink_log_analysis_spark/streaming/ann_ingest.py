"""Streaming ANN index ingestion: foreachBatch -> index append.

Completes the persisted index lifecycle (``similarity.py``: build once
-> append batches -> search many) with the STREAMING ingest path a
production corpus actually has, for every index codec (int8, PQ raw,
PQ residual — the store reads it from the index): embedding batches
arrive on a stream, each micro-batch assigns to the index's frozen
centroids, encodes with its frozen codec, and lands in its own
``ingest=<stream>-b<batch>`` partition touching only the cells it
contains — the index absorbs the stream without a rebuild. One
marker/commit protocol (:func:`append_batch` / :func:`ingest_stream`)
over the one store append (``similarity.index_append``).

Exactly-once at the sink comes from the WRITE, not from bookkeeping:
each micro-batch's partition key is deterministic, and the append uses
dynamic-partition OVERWRITE (``index_append(ingest_key=...)``), so
a batch replayed after a crash — whether the crash hit mid-write or
after the write but before any marker — REPLACES its own partition
instead of duplicating rows. The commit markers under
``{index}/_ingest_commits/`` are a skip optimization plus an audit
trail, namespaced by INGEST id (derived from the checkpoint location):
batch ids are only unique per checkpoint, so a second stream ingesting
into the same index starts again at batch 0 and must neither be
skipped by the first stream's markers nor overwrite its partitions.

Scale shape: per batch, one projection + one partition-scoped write;
stream volume never rewrites other ingests' partitions, and a restart
resumes from the checkpoint with replays overwriting idempotently.

Marker IO goes through :mod:`..sources.fsio` (Hadoop FileSystem API),
so an index rooted on any Hadoop-supported filesystem records and
lists its commits the same way the vectors are written — the marker
layer is not silently local-only.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

from ..operators import similarity
from ..sources import fsio

COMMITS_DIR = "_ingest_commits"


def stream_ingest_id(checkpoint_dir: str) -> str:
    """Stable ingest id for a stream: derived from its checkpoint
    location, the same scope Structured Streaming's batch ids live in."""
    return hashlib.md5(
        os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:8]


def committed_batches(
    index_path: str, ingest_id: str | None = None
) -> list[int]:
    """Batch ids durably committed into the index (sorted). With
    ``ingest_id`` only that stream's commits; otherwise every commit
    (the audit-trail view the stream-final contract counts).

    Non-marker names are SKIPPED, not errors: a stray file whose
    ``-batch-`` tail is not numeric (editor droppings, a torn upload)
    must not break every subsequent drain (r9 advisory)."""
    out = []
    for name in fsio.list_names(f"{index_path}/{COMMITS_DIR}"):
        ing, _, batch = name.rpartition("-batch-")
        if not batch or not batch.isdigit():
            continue
        if ingest_id is None or ing == ingest_id:
            out.append(int(batch))
    return sorted(out)


def append_batch(
    spark: SparkSession,
    index_path: str,
    batch_df: DataFrame,
    batch_id: int,
    ingest_id: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> bool:
    """One ingest step — the marker protocol around
    ``similarity.index_append``. The marker skip is scoped to THIS
    ingest id (a different stream's batch 0 is a different batch); a
    replay that races past a missing marker is still safe because the
    write overwrites its own deterministic partition. Returns whether
    a write ran."""
    marker = f"{index_path}/{COMMITS_DIR}/{ingest_id}-batch-{batch_id}"
    if fsio.exists(marker, spark):
        return False
    similarity.index_append(
        spark,
        index_path,
        batch_df,
        id_col=id_col,
        vec_col=vec_col,
        ingest_key=f"{ingest_id}-b{batch_id}",
    )
    fsio.write_text(marker, "ok", spark)
    return True


def ingest_stream(
    spark: SparkSession,
    index_path: str,
    stream_df: DataFrame,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    timeout_sec: int = 600,
) -> list[int]:
    """Drain a stream of embedding rows into a persisted index with
    ``availableNow`` (process everything currently available, then
    stop — the batch-twin convention of ``plans/streamed.py``).
    Returns this stream's committed batch ids after the drain."""
    ingest_id = stream_ingest_id(checkpoint_dir)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        append_batch(
            spark,
            index_path,
            batch_df,
            batch_id,
            ingest_id,
            id_col=id_col,
            vec_col=vec_col,
        )

    q = (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout=timeout_sec):
        q.stop()
        raise TimeoutError(
            f"ANN ingest stream did not drain availableNow input in "
            f"{timeout_sec}s"
        )
    return committed_batches(index_path, ingest_id)
