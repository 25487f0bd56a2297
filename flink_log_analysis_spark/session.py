"""SparkSession factory with scale-oriented defaults.

The reference job configures its environment in
``LogAnalysis.java:36-52`` (checkpointing, state backend, restart
strategy). In Spark those concerns are session/stream options; this
module centralizes the session config we want everywhere:

- AQE on (runtime coalescing + skew-join handling at scale),
- a shuffle-partition count sized to the local harness but overridable
  via ``SPARK_GRAFT_CPUS`` / explicit argument for cluster runs,
- UTC session timezone (deterministic timestamp semantics; the
  reference discards timezone offsets when parsing log dates —
  SURVEY §2.E.3),
- Arrow enabled for the few pandas-UDF extension operators,
- streaming checkpoints written through Spark's
  ``FileSystemBasedCheckpointFileManager`` (temp file + rename, like
  the default, but without the FileContext path's per-file process
  forks on hosts without libhadoop; see the comment in
  :func:`get_spark`).
"""

from __future__ import annotations

import fcntl
import hashlib
import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# Shuffle-partition count used while a streaming query runs. This is
# the state-store partition count (fixed into the checkpoint at first
# micro-batch), so it should be sized to keyed-state volume, not to
# scan width: the reference's aggregations keep O(distinct keys) state
# (SURVEY §2.B B6), which is far narrower than the parse/scan stages.
# Default 8 suits the local harness; a 100 TB deployment raises it via
# env (or spark-submit conf) to spread RocksDB state across executors.
STREAM_STATE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "8"))


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]):
    """Temporarily set session confs, restoring priors on exit.

    Used to scope ``spark.sql.shuffle.partitions`` around a streaming
    query's start+drain so its state-store count is sized independently
    of the batch default (see ``STREAM_STATE_PARTITIONS``).
    """
    old: dict[str, str | None] = {}
    for k, v in conf.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, str(v))
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def get_spark(
    app_name: str = "flink-log-analysis-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    On a real cluster, ``master`` comes from spark-submit and
    ``shuffle_partitions`` should be sized ~2-3x total cores (or left
    to AQE's coalescing with a high initial value). Locally we default
    to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Keep broadcast joins available for dim tables (the reference's
        # lookup joins are point lookups against small MySQL dims).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local[N] runs everything in the driver JVM; 32g of the
        # harness's 128 GiB keeps multi-query sessions (bench, gate)
        # out of GC pressure. Cluster deployments size executors via
        # spark-submit instead.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        # Whole-stage codegen emits a fresh class per query stage; a
        # many-query session (bench runs 70+) generates hundreds of
        # them and the default JIT compiler pool (sized for steady
        # workloads) falls behind — CPU-bound stages then run
        # interpreted/deoptimized with semi-random 3-10x stalls
        # (measured: 173s cumulative compile over 16 queries; a late
        # single-task decimal agg went 2.8s -> 32s). More compiler
        # threads + a larger code cache keep generated code compiled.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS",
                "-XX:CICompilerCount=16 -XX:ReservedCodeCacheSize=1g",
            ),
        )
        .config("spark.ui.enabled", "false")
        # Streaming checkpoints (offsets, commits, source log, state
        # deltas, checksums, metadata) go through FileSystem create +
        # rename instead of Spark's FileContext default. Without
        # libhadoop, FileContext's local rename forks `readlink`
        # (RawLocalFileSystem.getFileLinkStatus -> FileUtil.readLink)
        # and its create forks `chmod`, for every checkpoint file.
        # Measured on a 4-vCPU VM: 34-35 -> 10-12 ms per file written
        # (20 -> 4 new processes per file in /proc/stat), and on the
        # live reference job (perfbench live_ref) walCommit p50
        # 60 -> 14 ms, state commit 66-75 -> 3-5 ms per batch, result
        # latency p50 1.02 -> 0.71 s. Both managers write a temp file
        # and rename it into place (atomic on local FS and HDFS), and
        # both refuse to overwrite an existing batch file in the
        # metadata logs. They differ only on a replayed, uncommitted
        # batch's state file (createAtomic with overwrite): FileContext
        # replaces it, FileSystem keeps the existing file and leaves
        # the temp file beside it. The replay recomputes the same state
        # version from the same logged offsets and prior state, so the
        # kept file holds the same updates (tested).
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # Driver testdata stores TIMESTAMP(NANOS) parquet, which Spark
        # has no native type for (SPARK-40819): read as int64 nanos and
        # convert in read_table().
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Columns written as parquet TIMESTAMP(NANOS) by some generator
# versions; they surface as int64 nanos under nanosAsLong and are
# normalized to TimestampType (microsecond) here — same truncation
# DuckDB applies. Newer generator runs write plain timestamp[us]
# without a timezone, which Spark reads as TIMESTAMP_NTZ; those are
# normalized too (see below).
NANO_TS_COLUMNS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver parquet table, normalizing timestamp encodings.

    The generator has shipped two parquet encodings across rounds:
    TIMESTAMP(NANOS) (read as int64 under nanosAsLong) and plain
    ``timestamp[us]`` with no zone (read as TIMESTAMP_NTZ). Engine
    plans assume TimestampType (event-time watermarks and unix_micros
    both reject NTZ), so both encodings are folded to TimestampType
    here. The session timezone is pinned to UTC, which makes the
    NTZ -> LTZ cast a bitwise no-op on the stored micros.
    """
    from pyspark.sql import functions as F

    # Runtime-set so externally-built sessions (the driver's) read the
    # generator's TIMESTAMP(NANOS) parquet too, not only our factory's.
    # The timezone pin matters for the same reason: the NTZ->LTZ cast
    # below is only a bitwise no-op under a UTC session timezone, so a
    # non-UTC external session would silently shift every event time.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # locked conf: session factory already set it
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    declared_ts = NANO_TS_COLUMNS.get(name, ())
    for c, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
        elif dtype == "bigint" and c in declared_ts:
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif dtype == "date" and c in declared_ts:
            # Drift insurance: a future generator switch to date32 on a
            # declared event-time column would break unix_micros /
            # watermarks exactly like the NTZ incident did.
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def shared_tmp_dir(prefix: str) -> str:
    """Session-lifetime scratch directory for materialized shared
    inputs (manufactured log lines, the near-dup pair index).

    On local[N] the default tempdir is fine: driver and executors
    share one filesystem. On a real cluster the executors must all
    reach the path, so ``SPARK_GRAFT_SHARED_TMP`` points the root at
    shared storage (an HDFS/NFS mount, an object-store fuse path);
    without it a driver-local temp path would be invisible to
    executors. Cleaned up at interpreter exit.
    """
    import atexit
    import shutil
    import tempfile

    root = os.environ.get("SPARK_GRAFT_SHARED_TMP")
    if root:
        os.makedirs(root, exist_ok=True)
    path = tempfile.mkdtemp(prefix=prefix, dir=root or None)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def manufactured_input(
    cache: dict, sf_dir: str, prefix: str, subdir: str, build
) -> str:
    """Resolve (building if absent) a manufactured shared-INPUT dir.

    ``build(path)`` must write the input under ``path/<subdir>`` with a
    Hadoop-committer ``_SUCCESS`` marker (every Spark file write does).
    Two reuse tiers:

    - per-process: ``cache`` (module dict keyed by sf_dir), unchanged
      semantics from the original per-module caches;
    - per-bench-run: when ``SPARK_GRAFT_INPUT_CACHE`` names a run-scoped
      root (bench.py sets one tempdir for all of its chunk subprocesses
      and removes it at exit), the input lands under a deterministic key
      there and later chunk sessions reuse it instead of re-writing the
      same bytes per JVM. An exclusive ``flock`` on ``{key}.lock`` beside
      it makes concurrent resolvers of one key build it once.

    This is INPUT manufacture — a format/layout mirror of the driver's
    parquet testdata (log lines text, an events parquet mirror, jsonl/
    csv/orc twins) that the queries then read like any other input. It
    is rebuilt from the parquet inputs on every bench invocation (the
    cache root dies with the bench process) and never contains query
    results, so per-run reuse is the same economics as reading
    /root/testdata itself.
    """
    import re as _re

    path = cache.get(sf_dir)
    if path is not None:
        return path
    root = os.environ.get("SPARK_GRAFT_INPUT_CACHE")
    if root:
        # The readable slug alone collapses distinct paths (/a/b_c and
        # /a/b/c both read a_b_c); a hash of the raw path keeps them apart.
        slug = _re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir.strip("/"))
        digest = hashlib.sha1(sf_dir.encode()).hexdigest()[:8]
        key = f"{prefix}{slug}_{digest}"
        path = os.path.join(root, key)
        marker = os.path.join(path, subdir, "_SUCCESS")
        if not os.path.exists(marker):
            # Two processes may resolve the same key at once; one builds
            # under the lock and the other finds the marker on re-check.
            # The kernel drops a flock when its holder dies, so a crashed
            # build leaves no stale lock behind.
            os.makedirs(root, exist_ok=True)
            with open(f"{path}.lock", "a") as lock:
                fcntl.flock(lock, fcntl.LOCK_EX)
                if not os.path.exists(marker):
                    os.makedirs(path, exist_ok=True)
                    build(path)
    else:
        path = shared_tmp_dir(prefix)
        build(path)
    cache[sf_dir] = path
    return path


def release_checkpoints(spark: SparkSession) -> int:
    """Unpersist every persisted/localCheckpointed RDD in the session.

    Several operators cut their plans with eager ``localCheckpoint``
    (shared shingle sets, LSH band rows, prefix tables). Those blocks
    are only reclaimed when the driver GC notices the DataFrame is
    unreachable — harness loops that run dozens of queries in one
    session (bench.py, the correctness gate) accumulate them and the
    resulting memory pressure/GC inflates later queries' timings by
    3-10x. Callers that fully consumed a query's result should call
    this between queries; it is a no-op mid-query because every plan
    is rebuilt fresh per call, so no checkpoint outlives its query.
    """
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    n = 0
    for rdd in list(jmap.values()):
        rdd.unpersist(False)
        n += 1
    return n


def ensure_min_partitions(df, target: int | None = None):
    """Widen a DataFrame to at least ``target`` partitions (default:
    the session's core count) before CPU-bound per-row work.

    Small local parquet files arrive as one unsplittable partition
    (single row group), which would serialize expression-heavy
    operators (MinHash, SimHash, cosine) onto one core. The shuffle
    this inserts moves only the small input; on a real cluster where
    scans already produce >= cores splits it is a no-op, so plans
    keep their scale posture.
    """
    if df.isStreaming:
        # streaming plans have no rdd to inspect; micro-batch sources
        # already split per file/offset range, and callers that need a
        # specific stream parallelism set shuffle partitions instead
        # (or widen_stream, for expression-heavy stateless stages)
        return df
    sc = df.sparkSession.sparkContext
    if target is None:
        target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def widen_stream(df, target: int | None = None):
    """The streaming counterpart of :func:`ensure_min_partitions` for
    EXPRESSION-HEAVY stateless stages: a file-stream micro-batch
    carries one partition per input file, so a single-file drop
    serializes the whole batch's per-row work onto one core (the
    single-file-scan trap, streaming edition — measured 25 s -> 2 s on
    the LM-filter stream at sf0.1). The repartition shuffles only the
    micro-batch; stages whose per-batch work already shuffles (joins,
    aggregations) regain parallelism there and don't need this. On a
    production stream whose batches arrive as many files/offset
    ranges, the shuffle moves already-parallel data — cheap relative
    to the per-row work this exists to parallelize."""
    if target is None:
        target = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target)


def udf_partition_target(df, cap: int = 8) -> int:
    """Partition count for Pandas-UDF stages: parallel, but capped.

    Each fresh Python worker pays the pandas import (~1-2 s cold), so
    more workers than needed hurts short jobs; long/large inputs on a
    warm cluster can pass a higher cap.
    """
    return min(df.sparkSession.sparkContext.defaultParallelism, cap)


def load_tables(spark: SparkSession, sf_dir: str, register_views: bool = True):
    """Load the driver-provided parquet tables for one scale factor.

    Returns a dict name -> DataFrame; optionally registers each as a
    temp view so plans can be written in SQL too. Parquet scans give
    Catalyst column pruning + predicate pushdown for free.
    """
    dfs = {}
    for name in TABLES:
        df = read_table(spark, sf_dir, name)
        dfs[name] = df
        if register_views:
            df.createOrReplaceTempView(name)
    return dfs
