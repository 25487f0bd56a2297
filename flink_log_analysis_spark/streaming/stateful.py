"""Event-time and custom-stateful streaming operators.

The reference carries event time (``accessDate``) but never windows on
it — all its aggregation is unbounded over processing time (SURVEY
§1.1.4). These operators are the engine-extension surface a log
pipeline needs at scale: watermarked tumbling/session windows, and a
custom stateful operator via ``applyInPandasWithState`` for semantics
the built-in windows can't express (running per-key session tracking
with gap timeout emission).

Everything here runs identically on batch DataFrames (windows are
plain expressions; the stateful op has a batch twin in
``plans.analytics.user_session_stats``'s window-gap formulation),
which keeps the oracle-checkable dual-mode property.

Scale notes: watermarks bound state (late rows beyond the watermark
are dropped, closed windows are evicted); session_window state is
per-key per-open-session; applyInPandasWithState state is a handful
of scalars per key — all O(active keys), never O(stream length).
"""

from __future__ import annotations

from typing import Any, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def session_counts(
    logs: DataFrame,
    key_col: str = "clientIP",
    ts_col: str = "accessTs",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Built-in session windows: per-key sessions split on ``gap``.

    ``F.session_window`` merges adjacent events within the gap into
    one window — state is per open session and closes at watermark.
    """
    df = logs
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.col(key_col), F.session_window(F.col(ts_col), gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("session_hits"))
        .select(
            F.col(key_col).alias("key"),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "session_hits",
        )
    )


SESSION_STATE_SCHEMA = StructType(
    [
        StructField("session_start", LongType()),
        StructField("last_seen", LongType()),
        StructField("hits", LongType()),
    ]
)

SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("session_hits", LongType()),
        StructField("closed_by", StringType()),
    ]
)

# emit_epoch_ms=True twin: epoch-millisecond longs instead of
# timestamps — timezone-neutral (naive pandas timestamps are
# reinterpreted in the session zone on the way back to the JVM, so
# long output is the only representation that survives any session
# timezone bit-for-bit).
SESSION_OUTPUT_SCHEMA_MS = StructType(
    [
        StructField("key", StringType()),
        StructField("session_start_ms", LongType()),
        StructField("session_end_ms", LongType()),
        StructField("session_hits", LongType()),
        StructField("closed_by", StringType()),
    ]
)


def sessionize_with_state(
    logs: DataFrame,
    key_col: str = "clientIP",
    ts_col: str = "accessTs",
    gap_seconds: int = 1800,
    watermark: str = "1 hour",
    use_timeout: bool = True,
    emit_epoch_ms: bool = False,
) -> DataFrame:
    """Custom stateful sessionization via ``applyInPandasWithState``.

    The Spark shape of Flink's KeyedProcessFunction + timers: per-key
    state holds (session_start, last_seen, hits); an event within the
    gap extends the session, an event beyond it closes the previous
    session and opens a new one; the processing-timeout path closes
    idle sessions. Demonstrates the escape hatch for stateful
    semantics the built-in ``session_window`` can't express (e.g.
    emitting *why* a session closed).

    ``use_timeout=False`` disables the processing-time timer (only
    gap-closed sessions are ever emitted). Required for drain-and-stop
    runs: an ``availableNow`` query holding pending processing-time
    timers never terminates (Spark keeps it alive to fire them), so
    finite-input contract/batch twins must run without timers.

    ``emit_epoch_ms=True`` emits session bounds as epoch-millisecond
    longs (``SESSION_OUTPUT_SCHEMA_MS``) instead of timestamps —
    timezone-neutral and cheaper (no per-row Timestamp objects).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ms = gap_seconds * 1000

    def fn(
        key: tuple, pdfs: Iterator[Any], state: GroupState
    ) -> Iterator[Any]:
        import pandas as pd

        def emit(sessions, reason):
            # sessions: list of (start_ms, end_ms, hits)
            if emit_epoch_ms:
                return pd.DataFrame(
                    {
                        "key": [key[0]] * len(sessions),
                        "session_start_ms": [s for s, _, _ in sessions],
                        "session_end_ms": [e for _, e, _ in sessions],
                        "session_hits": [h for _, _, h in sessions],
                        "closed_by": [reason] * len(sessions),
                    }
                )
            return pd.DataFrame(
                {
                    "key": [key[0]] * len(sessions),
                    "session_start": [
                        pd.Timestamp(s, unit="ms") for s, _, _ in sessions
                    ],
                    "session_end": [
                        pd.Timestamp(e, unit="ms") for _, e, _ in sessions
                    ],
                    "session_hits": [h for _, _, h in sessions],
                    "closed_by": [reason] * len(sessions),
                }
            )

        if use_timeout and state.hasTimedOut:
            start, last, hits = state.get
            state.remove()
            yield emit([(start, last, hits)], "timeout")
            return

        times: list[int] = []
        for pdf in pdfs:
            ts = pd.to_datetime(pdf[ts_col]).dropna()
            # vectorized ns->ms: avoids per-element Timestamp objects
            # (this fn runs once per key — per-call constant costs are
            # THE cost at millions of keys)
            times.extend((ts.astype("int64") // 1_000_000).tolist())
        times.sort()
        if not times:
            return

        start, last, hits = state.get if state.exists else (times[0], times[0], 0)
        closed = []
        for t in times:
            if t - last > gap_ms:
                closed.append((start, last, hits))
                start, hits = t, 0
            hits += 1
            last = t
        state.update((start, last, hits))
        if use_timeout:
            state.setTimeoutDuration(gap_ms)
        if closed:
            yield emit(closed, "gap")

    return (
        logs.select(F.col(key_col).alias("key"), F.col(ts_col))
        .groupBy("key")
        .applyInPandasWithState(
            fn,
            outputStructType=(
                SESSION_OUTPUT_SCHEMA_MS if emit_epoch_ms
                else SESSION_OUTPUT_SCHEMA
            ),
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if use_timeout
                else GroupStateTimeout.NoTimeout
            ),
        )
    )
