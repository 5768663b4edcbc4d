"""Custom stateful streaming operator: session aggregation via
``applyInPandasWithState`` (GroupState), the Structured Streaming
mechanism for operators the built-in windowed aggregations can't
express.

The operator keeps one open session per key in state; an event extends
the session if it arrives within ``gap`` of the session's end,
otherwise the closed session is EMITTED and a fresh one opens. State is
bounded: O(1) per key (start, end, count), with a processing-time
timeout closing idle sessions.

Scale: state lives in the state store, partitioned by key — the
streaming twin of the batch ``sessionize`` shuffle. The batch operator
(ops/asof.py) is the semantic reference; the test drives both over the
same finite input and compares CLOSED sessions.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start_us", T.LongType()),
        T.StructField("session_end_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)

GAP_US = 30 * 60 * 1_000_000  # 30 minutes, matching ops.asof.sessionize


def _make_session_fn(timeout_ms: int | None):
    """Closure factory: the returned function is cloudpickled BY VALUE,
    so ``timeout_ms`` travels to the Python workers (a module global
    would re-import to its default there)."""

    def _session_fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        """Fold this micro-batch's events (sorted by time) into the
        open session; emit every session that closes."""
        (user_id,) = key
        if state.hasTimedOut:
            if state.exists:
                start, end, n = state.get
                state.remove()
                yield pd.DataFrame(
                    [[user_id, start, end, n]],
                    columns=[f.name for f in SESSION_SCHEMA],
                )
            return

        times: list[int] = []
        for pdf in pdfs:
            times.extend(int(t) for t in pdf["us"])
        times.sort()

        closed: list[list[int]] = []
        if state.exists:
            start, end, n = state.get
        else:
            start = end = n = None  # type: ignore[assignment]
        for t in times:
            if start is None:
                start, end, n = t, t, 1
            elif t - end <= GAP_US:
                end, n = t, n + 1
            else:
                closed.append([user_id, start, end, n])
                start, end, n = t, t, 1
        if start is not None:
            state.update((start, end, n))
            if timeout_ms is not None:
                state.setTimeoutDuration(timeout_ms)
        if closed:
            yield pd.DataFrame(closed, columns=[f.name for f in SESSION_SCHEMA])

    return _session_fn


def run_sessionize_stream(spark, sf_dir: str) -> DataFrame:
    """Drive :func:`sessionize_stream` over the events parquet as a
    real streaming query (availableNow -> finite) and return the
    emitted CLOSED sessions from the memory sink. Open (trailing)
    sessions stay in state by design — the differential oracle
    excludes each user's last session accordingly."""
    from pyspark.sql import functions as F

    from .landing import events_stream, run_available_now

    src = events_stream(spark, sf_dir)
    events = src.select("user_id", F.unix_micros("ts").alias("us"))
    return run_available_now(sessionize_stream(events), "append")


def sessionize_stream(events: DataFrame, timeout_ms: int | None = None) -> DataFrame:
    """events(user_id, us) stream -> closed-session stream.

    ``timeout_ms``: idle-flush — close a key's open session after this
    much processing-time silence. Leave None for deterministic finite
    (availableNow) runs: open sessions then stay in state, exactly like
    the batch operator's trailing sessions.
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _make_session_fn(timeout_ms),
        outputStructType=SESSION_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# The same session operator on Spark 4's transformWithState API — the
# successor to GroupState with named state variables, timers, and TTL.
# ---------------------------------------------------------------------------

# Import-gated (Spark 4-only surface, same policy as py_datasource):
# an older PySpark must still import this module for its Spark-3
# applyInPandasWithState path above; only the transformWithState
# entry points below fail, lazily, with a clear message.
try:
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,  # noqa: F401
    )

    _HAS_TWS = True
except ImportError:  # pragma: no cover - env-dependent
    _HAS_TWS = False

    class StatefulProcessor:  # type: ignore[no-redef]
        """Placeholder base so SessionProcessor still defines; using
        the transformWithState path raises NotImplementedError."""


class SessionProcessor(StatefulProcessor):
    """transformWithStateInPandas twin of ``_make_session_fn``: one
    ValueState (start_us, end_us, n) per user; a micro-batch's events
    fold into the open session, closed sessions emit. Timer-less
    (timeMode "none") so finite availableNow runs are deterministic —
    open sessions stay in state, matching the batch operator's
    trailing-session semantics."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("session", STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues):  # noqa: ANN001
        (user_id,) = key
        times: list[int] = []
        for pdf in rows:
            times.extend(int(t) for t in pdf["us"])
        times.sort()
        cur = self._state.get() if self._state.exists() else None
        start, end, n = cur if cur is not None else (None, None, None)
        closed: list[list[int]] = []
        for t in times:
            if start is None:
                start, end, n = t, t, 1
            elif t - end <= GAP_US:
                end, n = t, n + 1
            else:
                closed.append([user_id, start, end, n])
                start, end, n = t, t, 1
        if start is not None:
            self._state.update((start, end, n))
        if closed:
            yield pd.DataFrame(
                closed, columns=[f.name for f in SESSION_SCHEMA]
            )

    def close(self) -> None:
        pass


def sessionize_stream_tws(events: DataFrame) -> DataFrame:
    """events(user_id, us) stream -> closed-session stream via
    ``transformWithStateInPandas`` (Spark 4 arbitrary-state v2)."""
    if not _HAS_TWS:
        raise NotImplementedError(
            "transformWithStateInPandas requires Spark 4's "
            "pyspark.sql.streaming.stateful_processor; the GroupState "
            "twin (sessionize_stream) computes the same sessions"
        )
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=SessionProcessor(),
        outputStructType=SESSION_SCHEMA,
        outputMode="append",
        timeMode="none",
    )


def run_sessionize_stream_tws(spark, sf_dir: str) -> DataFrame:
    """Drive :func:`sessionize_stream_tws` over the events parquet as
    a real availableNow streaming query. transformWithState requires
    the RocksDB state store provider; it is set for the run and the
    previous provider restored after (no lasting session mutation —
    the r3-verdict conf-hygiene rule)."""
    from pyspark.sql import functions as F

    from .landing import events_stream, run_available_now

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as ex:  # pragma: no cover - env-dependent
        raise NotImplementedError(
            "transformWithStateInPandas requires the protobuf package "
            "(Spark's TransformWithStateInPySpark runner speaks protobuf "
            "to the JVM state server); install 'protobuf' to enable. The "
            "GroupState twin (run_sessionize_stream) has no such "
            "dependency and computes the same sessions."
        ) from ex

    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src = events_stream(spark, sf_dir)
        events = src.select("user_id", F.unix_micros("ts").alias("us"))
        return run_available_now(sessionize_stream_tws(events), "append")
    finally:
        if prev is not None:
            spark.conf.set(key, prev)
        else:
            spark.conf.unset(key)
