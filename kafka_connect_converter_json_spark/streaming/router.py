"""Multi-table routed ingest: demultiplex one binlog into per-table sinks.

A real binlog/WAL carries interleaved change events for MANY tables. The
reference already dispatches records to per-schema extraction plans inside
one converter (identify JC:508-549 -> per-schema instruction cache
JC:84-93) but lands everything in one topic-shaped output; a CDC *engine*
must take the next step and land each identified schema in its own
exactly-once table, checkpointed per (table, epoch), so a crash or
at-least-once redelivery replays only the missing pieces.

Design (epoch-major — one sequential pass over the binlog per epoch):

- **Shared epoch windows.** Epoch ``k`` slices the same global LSN window
  for every table, so "epoch k committed for table t" is meaningful
  across the whole topology and the binlog is read once per epoch, not
  once per table — the property that matters when the source is a
  sequential log, not a re-scannable file.
- **One conversion pass for all tables.** A single
  :func:`operators.extract.convert_stream` mapInPandas pass converts the
  whole micro-batch; the executor-local instruction cache dispatches
  per-schema INSIDE each Arrow batch (the same mechanism the reference
  uses to keep per-record dispatch cheap, JC:84-93). The converted batch
  is persisted once and feeds every table's MERGE, then unpersisted — a
  micro-batch is bounded by construction, so this is the one place the
  engine deliberately caches.
- **Per-(table, epoch) exactly-once.** Each table is a full
  :class:`streaming.sink.BucketedMergeSink` with its own manifest; a
  crash BETWEEN table commits inside one epoch resumes with the
  already-committed tables skipped (tested), and redelivering a fully
  committed epoch is a no-op for every table.
- **Unroutable rows are a policy, not a crash.** Rows whose envelope
  matches no identifier rule (or fails extraction) are handled per
  ``unknown=``: ``"error"`` (default — a demuxed stream with unroutable
  rows is a config bug), ``"drop"``, or ``"quarantine"`` (written under
  ``root/_unroutable/e{epoch}`` carrying the raw envelope, BEFORE any
  table commit of that epoch, so a replay re-quarantines
  deterministically — same discipline as the single-table quarantine
  channel, O19).

Deletes are expected envelope-carried (Debezium-style ``op='d'`` rows
whose envelope still carries the key fields) — identification works on
them like any other row. Key-only *tombstones* (null envelope) are
unroutable by construction in a multi-table stream (nothing identifies
the table) and fall under the ``unknown=`` policy; route them upstream
via a topic/table column if the transport provides one (pass a
pre-populated ``schema_name`` column and ``identify=False``).

Scale shape: per epoch, one mapInPandas conversion pass + T
bucket-partitioned MERGEs, each against its own table only. Table merges
run sequentially on the driver — each merge is a full-cluster job already,
and sequential commits keep crash semantics deterministic (the resume test
relies on a total order of (table, epoch) commits).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import ConverterConfig
from ..operators.extract import convert_stream
from .ingest import epoch_committer
from .sink import BucketedMergeSink

UNKNOWN_POLICIES = ("error", "drop", "quarantine")


def table_key_columns(config: ConverterConfig) -> dict[str, list[str]]:
    """Per-table merge-key target columns (case-folded), in the stable
    sorted order ``target_columns`` uses — the sink keys for each table."""
    return {
        t: sorted(config.fold(new) for new in config.keys.get(t, {}).values())
        for t in config.schema_names
    }


def route_ingest(
    spark: SparkSession,
    events: DataFrame,
    root: str,
    n_events: int,
    config: ConverterConfig,
    n_epochs: int = 4,
    num_buckets: int = 16,
    unknown: str = "error",
    value_col: str = "value_json",
    order_col: str = "lsn",
    op_col: str = "op",
    fail_after: int | None = None,
    audit: dict | None = None,
    audit_on_fail: str = "keep",
    **sink_kwargs,
) -> dict[str, BucketedMergeSink]:
    """Replay ``events`` into one sink per declared schema, in
    ``n_epochs`` shared LSN-range epochs. Returns ``{table: sink}``.

    ``events`` columns: ``order_col`` (the global LSN total order),
    ``op_col`` (c/u/d), ``value_col`` (the JSON envelope). ``config``
    declares the tables (``schema_names``), how to identify each
    (``identifiers``) and each table's key extraction paths (``keys``) —
    tables with different key sets need ``allow_non_indexed=True``.

    Idempotent per (table, epoch) via each sink's manifest;
    ``fail_after`` injects a crash after that many TABLE-merges total
    (the mid-epoch resume test hook).

    ``audit`` applies the WAP gate per (table, epoch) — every table's
    epoch batch stages invisibly, runs the expectations (see
    ``BucketedMergeSink.audit_staged``), and only a passing one
    publishes; the first failure raises :class:`IngestAuditError`
    carrying the table name and report. Earlier tables of the same
    epoch keep their commits (per-(table, epoch) idempotency is the
    resume unit, exactly as with a crash); ``audit_on_fail`` as in
    ``ingest``.
    """
    if unknown not in UNKNOWN_POLICIES:
        raise ValueError(f"unknown= must be one of {UNKNOWN_POLICIES}, got {unknown!r}")
    commit = epoch_committer(audit, audit_on_fail)
    tables = list(config.schema_names)
    key_cols = table_key_columns(config)
    for t in tables:
        if not key_cols[t]:
            raise ValueError(f"schema {t!r} declares no key columns — cannot MERGE")
    payload_col = config.payload_column

    sinks = {
        t: BucketedMergeSink(
            spark, os.path.join(root, t), keys=key_cols[t],
            order_col=order_col, op_col=op_col, num_buckets=num_buckets,
            **sink_kwargs,
        )
        for t in tables
    }

    per_epoch = max(1, -(-n_events // n_epochs))  # ceil
    merges_done = 0
    for epoch in range(n_epochs):
        pending = [t for t in tables if epoch not in sinks[t].committed_epochs()]
        if not pending:
            continue  # fully committed epoch: redelivery is a no-op
        lo, hi = epoch * per_epoch, (epoch + 1) * per_epoch
        batch = events.filter((F.col(order_col) >= lo) & (F.col(order_col) < hi))

        # one conversion pass handles every schema; keep the raw envelope
        # only when the quarantine channel needs it for inspect/replay
        passthrough = [order_col, op_col] + (
            [value_col] if unknown == "quarantine" else []
        )
        conv = convert_stream(
            batch, config, value_col=value_col,
            passthrough=tuple(passthrough), errors="quarantine",
        ).persist()
        try:
            unroutable = conv.filter(
                F.col("schema_name").isNull() | F.col("_error").isNotNull()
            )
            if unknown == "error":
                first = unroutable.select(order_col, "_error").limit(1).collect()
                if first:
                    raise ValueError(
                        f"unroutable event at {order_col}={first[0][0]} "
                        f"(_error={first[0][1]!r}); set unknown='drop' or "
                        "'quarantine' to proceed"
                    )
            elif unknown == "quarantine":
                # written BEFORE any table commit of this epoch: a replay
                # of an uncommitted epoch re-quarantines deterministically
                qdir = os.path.join(root, "_unroutable", f"e{epoch:06d}")
                if os.path.exists(qdir):
                    shutil.rmtree(qdir)
                unroutable.select(order_col, op_col, value_col, "_error").write.parquet(qdir)

            for t in pending:
                typed = conv.filter(
                    (F.col("schema_name") == t) & F.col("_error").isNull()
                ).select(*key_cols[t], order_col, op_col, payload_col)
                commit(sinks[t], typed, epoch, None, t)
                merges_done += 1
                if fail_after is not None and merges_done >= fail_after:
                    raise RuntimeError(
                        f"injected crash after {merges_done} table-merges (test hook)"
                    )
        finally:
            conv.unpersist()
    return sinks


def read_unroutable(spark: SparkSession, root: str) -> DataFrame | None:
    """All quarantined unroutable rows across epochs (None if none)."""
    qroot = os.path.join(root, "_unroutable")
    if not os.path.isdir(qroot) or not os.listdir(qroot):
        return None
    return spark.read.parquet(os.path.join(qroot, "e*"))
