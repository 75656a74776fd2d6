"""Structured Streaming front end for the CDC engine.

The batch-replay driver (``ingest.py``) is the deterministic/testable
path; this module is the live-tail path the same engine runs in
production: ``readStream`` over an events source -> the identical
convert/LWW/MERGE pipeline inside ``foreachBatch`` -> exactly-once via
the sink's idempotent epoch commits keyed by the streaming ``batch_id``
(Structured Streaming may re-deliver a batch after crash; the manifest
check makes re-delivery a no-op — the standard ``foreachBatch(batch_id)``
dedup pattern, SURVEY.md N6/N7).

Also provides ``stateful_lww``: a custom stateful operator via
``applyInPandasWithState`` that maintains the per-key latest version
*across* micro-batches and emits only changed keys per batch — the
streaming-native alternative to re-merging the sink table, useful when
downstream wants a changelog rather than a table.
"""

from __future__ import annotations

import os

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..config import ConverterConfig
from .ingest import convert_events, default_config, observe_epoch, restore_registry
from .sink import BucketedMergeSink

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("schema_name", T.StringType(), True),
        T.StructField("value_json", T.StringType(), True),
        T.StructField("key_json", T.StringType(), True),
        T.StructField("repo", T.StringType(), True),
        T.StructField("path", T.StringType(), True),
        T.StructField("kafka_partition", T.IntegerType(), True),
        T.StructField("kafka_offset", T.LongType(), True),
    ]
)


def stream_ingest(
    spark: SparkSession,
    source_dir: str,
    sink_root: str,
    checkpoint_dir: str,
    config: ConverterConfig | None = None,
    num_buckets: int = 64,
    available_now: bool = True,
    **sink_kwargs,
):
    """Tail a file-based event source (one parquet dir per producer epoch
    — the sandbox stand-in for a Kafka topic) into the MERGE sink.

    ``available_now=True`` drains everything then stops (deterministic
    for tests); False runs continuously. Restart with the same
    checkpoint_dir resumes from the last committed source offset, and
    the sink's idempotent commits absorb any batch re-delivery.

    Each micro-batch observes like an ``ingest`` epoch: the registry is
    restored from the sink's last commit, widened until it resolves every
    key path the batch carries, and committed with the batch.
    """
    config = config or default_config()
    events = spark.readStream.schema(EVENT_SCHEMA).parquet(source_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sink = BucketedMergeSink(
            spark, sink_root, keys=["repo", "path"], order_col="lsn",
            num_buckets=num_buckets, **sink_kwargs,
        )
        registry = restore_registry(sink, None)
        # before any envelope is observed the empty schema still reads keys
        env_schema = observe_epoch(
            spark, batch_df, config, registry, sample_first=False) or T.StructType([])
        typed = convert_events(batch_df, config, "native", env_schema)
        typed = typed.filter(~typed["_corrupt"]).drop("_corrupt")
        sink.merge(typed, epoch=int(batch_id), meta={"registry": registry.to_json()})

    writer = events.writeStream.foreachBatch(process).option(
        "checkpointLocation", os.path.join(checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def windowed_event_counts(
    typed_stream: DataFrame,
    time_col: str = "event_time",
    window_duration: str = "1 minute",
    watermark_delay: str = "2 minutes",
    group_col: str | None = "repo",
):
    """Watermarked tumbling-window aggregation over the event stream —
    the standard Structured Streaming late-data pattern: events later
    than ``watermark_delay`` past the max observed ``time_col`` are
    dropped and their windows finalize (state is bounded by
    |open windows x groups|, the requirement at 10^10-event scale).

    Output per (window, group): event count, update count (op != 'd'),
    delete count, max LSN — the per-window lineage a monitoring sink
    consumes. Works on a streaming OR batch DataFrame (Spark gives the
    identical semantics minus the incremental state)."""
    from pyspark.sql import functions as F

    src = typed_stream
    if src.isStreaming:
        src = src.withWatermark(time_col, watermark_delay)
    keys = [F.window(time_col, window_duration).alias("window")]
    if group_col is not None:
        keys.append(F.col(group_col))
    return src.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("op") != "d", 1).otherwise(0)).alias("n_upserts"),
        F.sum(F.when(F.col("op") == "d", 1).otherwise(0)).alias("n_deletes"),
        F.max("lsn").alias("max_lsn"),
    )


# ---------------------------------------------------------------------------
# custom stateful operator: cross-batch LWW changelog
# ---------------------------------------------------------------------------

_STATE_SCHEMA = "lsn LONG, content STRING, op STRING"
_OUT_SCHEMA = (
    "repo STRING, path STRING, lsn LONG, content STRING, op STRING, changed BOOLEAN"
)


def _lww_state_fn(key, pdf_iter, state: GroupState):
    """Per-(repo,path) state: the latest (lsn, content, op) seen so far.
    Emits one row per batch for keys whose winner changed."""
    best_lsn, best_content, best_op = (
        state.get if state.exists else (None, None, None)
    )
    changed = False
    for pdf in pdf_iter:
        if len(pdf) == 0:
            continue
        idx = pdf["lsn"].idxmax()
        lsn = int(pdf.loc[idx, "lsn"])
        if best_lsn is None or lsn > best_lsn:
            best_lsn = lsn
            best_content = pdf.loc[idx, "content"]
            best_op = pdf.loc[idx, "op"]
            changed = True
    if changed:
        state.update((best_lsn, best_content, best_op))
        yield pd.DataFrame(
            [
                {
                    "repo": key[0],
                    "path": key[1],
                    "lsn": best_lsn,
                    "content": best_content,
                    "op": best_op,
                    "changed": True,
                }
            ]
        )


def stateful_lww(typed_stream: DataFrame) -> DataFrame:
    """Cross-batch LWW changelog via applyInPandasWithState.

    Input: streaming DataFrame with (repo, path, lsn, content, op).
    Output per micro-batch: the keys whose latest version changed.
    State is the per-key winner — O(|keys|) memory in the state store,
    exactly the converter cache discipline (JC:84-93) applied to data.
    """
    return (
        typed_stream.select("repo", "path", "lsn", "content", "op")
        .groupBy("repo", "path")
        .applyInPandasWithState(
            _lww_state_fn,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# custom stateful operator: session windows with event-time timers
# ---------------------------------------------------------------------------

_SESSION_STATE = "start_ms LONG, last_ms LONG, n LONG"
_SESSION_OUT = (
    "skey STRING, session_start TIMESTAMP, session_end TIMESTAMP, n_events LONG"
)


def streaming_sessions(
    typed_stream: DataFrame,
    key_col: str = "repo",
    time_col: str = "event_time",
    gap_seconds: int = 30,
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """Streaming session windows via ``applyInPandasWithState`` with
    EVENT-TIME TIMERS — the stateful pattern ``stateful_lww`` (NoTimeout)
    does not exercise: a per-key open session lives in the state store
    and CLOSES when the watermark passes ``last_event + gap``, emitting
    one ``(key, start, end, n_events)`` row. In-batch gap splitting closes
    older sub-sessions immediately, so a key whose batch spans several
    sessions emits all but the still-open last one.

    State is O(|keys with an open session|) — bounded by the watermark
    exactly like windowed aggregation state (the 10^10-event requirement).
    The batch analogue (same semantics on a static frame) is
    ``operators.intervals.sessionize`` — gaps-and-islands over a window.
    """
    import pandas as pd  # noqa: F401 (re-import for executor pickling)

    gap_ms = gap_seconds * 1000

    def session_fn(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            start_ms, last_ms, n = state.get
            state.remove()
            yield pd.DataFrame(
                [{
                    "skey": key[0],
                    "session_start": pd.Timestamp(start_ms, unit="ms"),
                    "session_end": pd.Timestamp(last_ms, unit="ms"),
                    "n_events": n,
                }]
            )
            return
        stamps: list[int] = []
        for pdf in pdf_iter:
            if len(pdf):
                stamps.extend(
                    (pdf[time_col].astype("int64") // 1_000_000).tolist()
                )
        if not stamps:
            return
        # Gaps-and-islands over {open-session interval} ∪ new stamps,
        # sorted by start — NOT "fold every stamp into the open session".
        # A late event inside the watermark but more than gap BEFORE the
        # open session's start must form its own (immediately closed)
        # earlier session, matching batch `sessionize`; folding it in
        # would stretch session_start (ADVICE r3). Interval merge also
        # bridges straggler chains that reach within gap of the open
        # session, exactly as the batch operator would.
        intervals = [[t, t, 1] for t in sorted(stamps)]
        if state.exists:
            intervals.append(list(state.get))
            intervals.sort(key=lambda s: (s[0], s[1]))
        sessions: list[list[int]] = []
        for iv in intervals:
            if sessions and iv[0] <= sessions[-1][1] + gap_ms:
                s = sessions[-1]
                s[1] = max(s[1], iv[1])
                s[2] += iv[2]
            else:
                sessions.append(iv)
        closed, open_s = sessions[:-1], sessions[-1]
        state.update(tuple(open_s))
        # the timer must sit strictly beyond the current watermark
        # (late stragglers can leave last+gap already behind it)
        state.setTimeoutTimestamp(
            max(open_s[1] + gap_ms, state.getCurrentWatermarkMs() + 1)
        )
        if closed:
            yield pd.DataFrame(
                [
                    {
                        "skey": key[0],
                        "session_start": pd.Timestamp(s[0], unit="ms"),
                        "session_end": pd.Timestamp(s[1], unit="ms"),
                        "n_events": s[2],
                    }
                    for s in closed
                ]
            )

    return (
        typed_stream.withWatermark(time_col, watermark_delay)
        .select(key_col, time_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            session_fn,
            outputStructType=_SESSION_OUT,
            stateStructType=_SESSION_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
