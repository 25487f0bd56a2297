"""Streaming runners: source -> parse -> join -> agg -> upsert sink.

The reference's whole job (``LogAnalysis.java:34-94``) is: Kafka
source (A1) -> parse/filter chain (A2-A8) -> ``logs`` view with a
proctime attribute (A9) -> three continuous SQL queries, each a
stream-dim lookup join + unbounded group count (+ top-10 rank for two
of them) -> JDBC upsert sinks (B1-B9). This module is that job on
Structured Streaming:

- sources: file-stream of raw lines (test/bench twin of Kafka tailing
  a log directory) and the Kafka reader itself;
- the *same* columnar parse + plan functions as batch — every
  transformation in :mod:`..logparse` is a stateless projection, so
  the one definition serves both engines (SURVEY §7 "dual-mode");
- stream-static broadcast join against per-batch re-read dims ==
  Flink's ``FOR SYSTEM_TIME AS OF proctime`` lookup-join semantics
  (the static side is re-evaluated each micro-batch — that IS the
  "dim snapshot at processing time", with the micro-batch interval
  playing the lookup-cache TTL, SURVEY §2.B B5/B1);
- update-mode unbounded aggregation == Flink's incremental group agg
  (B6): Spark keeps per-key running counts in the state store and
  emits changed keys per batch;
- ``ORDER BY pv DESC LIMIT 10`` on an updating aggregate is not
  expressible inside a streaming plan (B7) -> applied per batch in
  ``foreachBatch`` under complete output mode, then upserted by key;
- checkpointing: ``checkpointLocation`` (WAL + state snapshots) ==
  the reference's 5s FsStateBackend checkpoints (A9 env config). In a
  :func:`..session.get_spark` session the offsets/commits WAL, the
  file-source log and the state deltas are written by Spark's
  ``FileSystemBasedCheckpointFileManager`` (temp file, then rename),
  because the FileContext default forks a process per file on a JVM
  without libhadoop. A batch file that already exists is never
  overwritten, so the exactly-once guard is unchanged. On a replay of
  an uncommitted batch, its existing state delta is kept instead of
  replaced; the replay recomputes that version from the same offsets
  and prior state, so the kept file holds the same updates.

Scale notes: state size for the aggs is O(distinct keys), not O(rows
seen); the dims stay broadcast so the fact stream never shuffles for
the join; the only shuffle per micro-batch is the group-by on the
aggregation key. :func:`run_log_job` starts its three concurrent
queries with a third of the cores' worth of shuffle (= state-store)
partitions each, so one trigger of all three runs one wave of state
tasks; the count is frozen into each checkpoint at its first start,
and an existing checkpoint keeps the count it recorded. At 100 TB/day
ingest the same topology holds — partition count on the Kafka source
scales the parse stage, and the state store (RocksDB in prod) holds
the keyed counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import logparse
from ..session import scoped_conf


def read_log_file_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """A1 twin: stream raw log lines from files landing in a directory.

    This is the Flume-tail stage of the reference collapsed into
    Spark's file source (exactly-once, no agent needed). Returns a
    streaming DataFrame with one ``line`` column.
    """
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path).withColumnRenamed("value", "line")


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "user_access_logs",
    starting_offsets: str = "earliest",
    group_id: str = "log_consumer",
) -> DataFrame:
    """A1: the reference's Kafka source (``LogAnalysis.java:53-70``).

    Same topic/group/offset-reset defaults. Returns a streaming
    DataFrame of raw lines. Requires the spark-sql-kafka package on
    the cluster (not in this container — covered by the file-stream
    twin in tests; the option wiring here is the production surface).
    """
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("kafka.group.id", group_id)
        .load()
        .selectExpr("CAST(value AS STRING) AS line")
    )


def parsed_log_stream(lines: DataFrame, keep_non_200: bool = False) -> DataFrame:
    """A2-A9: raw line stream -> the ``logs`` view shape + proctime."""
    return logparse.with_proctime(
        logparse.parse_access_logs(lines, keep_non_200=keep_non_200)
    )


def hot_section_agg(logs: DataFrame, section_dim: DataFrame) -> DataFrame:
    """Q1 core: stream-static broadcast join + unbounded group count.

    ``section_dim`` must have columns (fid, name) — the
    ``pre_forum_forum`` shape (``LogAnalysis.java:199-215``).
    """
    hits = logs.filter(F.col("sectionId") != 0)
    return (
        hits.join(F.broadcast(section_dim), hits.sectionId == section_dim.fid, "inner")
        .groupBy(F.col("sectionId").alias("section_id"), F.col("name"))
        .agg(F.count(F.lit(1)).alias("section_pv"))
    )


def hot_article_agg(logs: DataFrame, article_dim: DataFrame) -> DataFrame:
    """Q2 core over the ``pre_forum_post`` dim shape (tid, subject)."""
    hits = logs.filter(F.col("articleId") != 0)
    return (
        hits.join(F.broadcast(article_dim), hits.articleId == article_dim.tid, "inner")
        .groupBy(F.col("articleId").alias("article_id"), F.col("subject"))
        .agg(F.count(F.lit(1)).alias("article_pv"))
    )


def client_ip_access_agg(logs: DataFrame) -> DataFrame:
    """Q3 core: per-client hit count over section/article hits."""
    return (
        logs.filter((F.col("articleId") != 0) | (F.col("sectionId") != 0))
        .groupBy(F.col("clientIP").alias("client_ip"))
        .agg(F.count(F.lit(1)).alias("client_access_cnt"))
    )


def _start_batch_stream(
    agg_df: DataFrame,
    prepare,
    sink,
    checkpoint_dir: str,
    top_k: int | None,
    order_by: list | None,
    stat_time: str | None,
    available_now: bool,
    query_name: str | None,
):
    """The upsert-stream wiring shared by both starters: per
    micro-batch, ``prepare(batch_df)`` (None: the batch as is), then
    the optional ``ORDER BY ... LIMIT top_k``, the ``statistic_time``
    stamp, and the sink; complete output mode under ``top_k``, update
    mode otherwise."""
    if top_k is not None and not order_by:
        # Validate now: inside the foreachBatch closure this would only
        # surface as an opaque mid-stream StreamingQueryException.
        raise ValueError("top_k requires order_by (a total tie-break order)")

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        out = batch_df if prepare is None else prepare(batch_df)
        if top_k is not None:
            out = out.orderBy(*order_by).limit(top_k)
        if stat_time is None:
            out = out.withColumn(
                "statistic_time",
                F.date_format(F.current_timestamp(), "yyyy-MM-dd HH:mm:ss"),
            )
        else:
            out = out.withColumn("statistic_time", F.lit(stat_time))
        sink(out, batch_id)

    mode = "complete" if top_k is not None else "update"
    writer = (
        agg_df.writeStream.outputMode(mode)
        .foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
    )
    if query_name:
        writer = writer.queryName(query_name)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_upsert_stream(
    agg_df: DataFrame,
    sink,
    checkpoint_dir: str,
    top_k: int | None = None,
    order_by: list | None = None,
    stat_time: str | None = None,
    available_now: bool = False,
    query_name: str | None = None,
):
    """Wire an unbounded aggregate to a keyed upsert sink.

    ``top_k`` switches to complete output mode and applies
    ``ORDER BY ... LIMIT k`` inside foreachBatch — the Spark shape of
    the reference's streaming Rank (SURVEY §2.B B7). ``stat_time``
    pins the reference's wall-clock ``statistic_time`` column for
    deterministic tests; None stamps real wall-clock per batch, which
    is the reference's ``FROM_UNIXTIME(UNIX_TIMESTAMP())``.
    """
    return _start_batch_stream(
        agg_df, None, sink, checkpoint_dir, top_k, order_by, stat_time,
        available_now, query_name,
    )


def start_lookup_upsert_stream(
    agg_df: DataFrame,
    dim_cache,
    join_expr,
    select_cols: list,
    sink,
    checkpoint_dir: str,
    top_k: int | None = None,
    order_by: list | None = None,
    stat_time: str | None = None,
    available_now: bool = False,
    query_name: str | None = None,
):
    """B5 with LIVE lookup semantics: the dim snapshot refreshes per
    micro-batch through a :class:`~..sources.io.DimCache`, so the join
    sees the database's current rows with at most the cache TTL of
    staleness — exactly Flink's ``FOR SYSTEM_TIME AS OF proctime``
    lookup join with ``lookup.cache.ttl`` (``LogAnalysis.java:199-215``,
    SURVEY §2.B B5/B1).

    The stream keeps its unbounded aggregate keyed on the raw join key
    (state stays O(distinct keys) and never contains dim attributes,
    so a dim update can never strand stale state); the dim join +
    optional top-k ranking run per batch in ``foreachBatch`` against
    ``dim_cache.get()``'s broadcast snapshot. ``join_expr`` is a
    callable ``(batch_df, dim_df) -> Column``; ``select_cols`` a
    callable ``(batch_df, dim_df) -> list[Column]`` projecting the
    sink schema.
    """

    def join_dim(batch_df: DataFrame) -> DataFrame:
        dim = dim_cache.get()
        return batch_df.join(
            F.broadcast(dim), join_expr(batch_df, dim), "inner"
        ).select(*select_cols(batch_df, dim))

    return _start_batch_stream(
        agg_df, join_dim, sink, checkpoint_dir, top_k, order_by, stat_time,
        available_now, query_name,
    )


def run_log_job(
    spark: SparkSession,
    source_dir: str,
    section_dim: DataFrame,
    article_dim: DataFrame,
    sinks: dict,
    checkpoint_root: str,
    available_now: bool = False,
    stat_time: str | None = None,
    keep_non_200: bool = False,
):
    """The full reference job: three concurrent streaming queries.

    ``sinks`` maps query name (hot_section / hot_article /
    client_ip_access) to a foreachBatch-compatible sink. Returns the
    three StreamingQuery handles; callers awaitTermination (prod) or
    processAllAvailable (tests).

    The queries start with ``defaultParallelism // 3`` shuffle
    partitions (at least one), so their three stateful stages together
    fill the cores once per trigger instead of three times over. A
    query restarted from an existing checkpoint keeps the state
    partition count that checkpoint recorded.
    """
    lines = read_log_file_stream(spark, source_dir)
    logs = parsed_log_stream(lines, keep_non_200=keep_non_200)
    state_partitions = max(1, spark.sparkContext.defaultParallelism // 3)
    queries = []
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": state_partitions}):
        queries.append(
            start_upsert_stream(
                hot_section_agg(logs, section_dim),
                sinks["hot_section"],
                f"{checkpoint_root}/hot_section",
                top_k=10,
                order_by=[F.desc("section_pv"), F.asc("section_id")],
                stat_time=stat_time,
                available_now=available_now,
                query_name="hot_section",
            )
        )
        queries.append(
            start_upsert_stream(
                hot_article_agg(logs, article_dim),
                sinks["hot_article"],
                f"{checkpoint_root}/hot_article",
                top_k=10,
                order_by=[F.desc("article_pv"), F.asc("article_id")],
                stat_time=stat_time,
                available_now=available_now,
                query_name="hot_article",
            )
        )
        queries.append(
            start_upsert_stream(
                client_ip_access_agg(logs),
                sinks["client_ip_access"],
                f"{checkpoint_root}/client_ip_access",
                stat_time=stat_time,
                available_now=available_now,
                query_name="client_ip_access",
            )
        )
    return queries
