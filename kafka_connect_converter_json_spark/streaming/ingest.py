"""End-to-end CDC ingest pipeline: events -> convert -> LWW -> MERGE.

The north-star pipeline (BASELINE.json ``north_star``): change events over
the ``(repo, path, commit, lang, content)`` source-code table are parsed
(N1), schema-evolved via the registry (N2), deduplicated last-writer-wins
per (repo, path) by commit LSN (N3/N4) and committed exactly-once through
idempotent MERGE epochs (N5/N6), resumable from checkpoint (N7) with
per-partition lineage (N8).

Two parse modes, mirroring the reference's compile-once-then-execute
split (JC:84-93: instruction cache; JC:392-393: hot path):

- ``"reference"`` — ``mapInPandas`` converter with full reference
  semantics (strict intermediates, array-head, map-first-value, canonical
  payload). Python executes per batch; use when semantics matter most.
- ``"native"``    — the registry observes/widens the envelope schema
  (driver-side compile step), then the hot path is pure JVM:
  ``from_json`` + column extraction + ``to_json`` payload, whole-stage
  codegen end-to-end. This is the 100 TB path: zero Python in the loop.

Epochs are LSN ranges (a binlog tail is ordered); the sink's manifest is
the checkpoint — ``ingest`` skips epochs the manifest already committed,
so re-running after a crash resumes and converges to a byte-identical
final state (sha256-per-row parity test in tests/test_ingest_e2e.py).
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import ConverterConfig, IdentifierRule
from ..operators.extract import convert_stream
from ..plans.registry import SchemaRegistry
from .sink import BucketedMergeSink, fold_on_driver

TARGET_COLS = ("repo", "path", "commit", "lang", "content")


def default_config() -> ConverterConfig:
    """Converter config for the F1 envelope (FIXTURES.md)."""
    return ConverterConfig(
        payload_field_name="payload",
        input_format="json",
        schema_names=("SourceChange",),
        keys={
            "SourceChange": {
                "meta.repo": "repo",
                "meta.path": "path",
                "commit.id": "commit",
                "lang": "lang",
                "content": "content",
            }
        },
        identifiers=(IdentifierRule("SourceChange", ("meta", "repo"), "true"),),
        uppercase=False,
    )


def infer_envelope_schema_from_sample(spark: SparkSession, sample_json: str) -> T.StructType:
    """One envelope string -> StructType (driver-side compile step; the
    constant ``schema_of_json`` folds on the driver, so no Spark job)."""
    ddl = fold_on_driver(spark, F.schema_of_json(F.lit(sample_json)))[0]
    dt = T._parse_datatype_string(ddl)
    if not isinstance(dt, T.StructType):
        raise ValueError(f"envelope root must be a struct, got {ddl}")
    return dt


def infer_envelope_schemas_batch(
    spark: SparkSession, samples: list[str]
) -> list[T.StructType]:
    """All samples' schemas in ONE driver-side fold: ``schema_of_json``
    of each sample as a constant column, evaluated by the optimizer
    without submitting a Spark job. Samples that are not JSON objects
    yield no entry. A corrupt sample makes the JSON parser raise while
    the batch folds; the samples are then folded one by one so the good
    ones still observe (the rare path — corrupt envelopes are already
    filtered to the quarantine channel before they win a sample)."""
    if not samples:
        return []
    try:
        ddls = list(fold_on_driver(
            spark, *[F.schema_of_json(F.lit(s)) for s in samples]
        ))
    except Py4JJavaError:
        ddls = []
        for s in samples:
            try:
                ddls.append(fold_on_driver(spark, F.schema_of_json(F.lit(s)))[0])
            except Py4JJavaError:
                continue  # corrupt sample: skip
    out = []
    for ddl in ddls:
        dt = T._parse_datatype_string(ddl)
        if isinstance(dt, T.StructType):
            out.append(dt)
    return out


def infer_envelope_schema(spark: SparkSession, events: DataFrame, value_col: str) -> T.StructType:
    """Driver-side schema inference from one sampled envelope (the
    registry 'observe' step; cheap — one take(1))."""
    sample = (
        events.filter(F.col(value_col).isNotNull()).select(value_col).limit(1).collect()
    )
    if not sample:
        return T.StructType([])
    return infer_envelope_schema_from_sample(spark, sample[0][0])


#: pseudo-random envelopes sampled per epoch for registry observe, in
#: addition to the first/last-by-LSN rows. More seeds = better coverage of
#: fields that appear only in a minority of rows (JSON omits null fields).
OBSERVE_SAMPLE_SEEDS = 4


def observe_envelope_samples(
    batch: DataFrame, value_col: str = "value_json", order_col: str = "lsn",
    seeds: int = OBSERVE_SAMPLE_SEEDS,
) -> list[str]:
    """Distinct envelope samples from one epoch in a SINGLE aggregation job:
    min/max by ``order_col`` (epoch boundaries — where evolution lands)
    plus ``seeds`` hash-picked rows (min_by keyed by xxhash64(seed,
    order_col) — deterministic pseudo-random spread across the epoch).
    Hashing the 8-byte order column, NOT the envelope string, keeps the
    per-row cost of the scan trivial; one aggregation replaces the two
    take(1)/TakeOrdered jobs of r1 and covers mid-epoch-only fields."""
    nn = batch.filter(F.col(value_col).isNotNull())
    aggs = [
        F.min_by(value_col, order_col).alias("_first"),
        F.max_by(value_col, order_col).alias("_last"),
    ] + [
        F.min_by(value_col, F.xxhash64(F.lit(i), F.col(order_col))).alias(f"_s{i}")
        for i in range(seeds)
    ]
    rows = nn.agg(*aggs).collect()
    if not rows or rows[0][0] is None:
        return []
    return sorted({v for v in rows[0] if v is not None})


def observe_envelope_samples_pruned(
    batch: DataFrame, value_col: str = "value_json", order_col: str = "lsn",
    op_col: str = "op", delete_op: str = "d", seeds: int = OBSERVE_SAMPLE_SEEDS,
) -> list[str]:
    """Two-job variant of ``observe_envelope_samples`` that never scans
    the envelope column end-to-end: job 1 aggregates ONLY the 8-byte
    ``order_col`` (+ the tiny op column) to pick the first/last/seeded
    sample LSNs; job 2 point-fetches just those rows' envelopes, which a
    parquet-backed source serves from the few row groups whose min/max
    straddle the picked LSNs. The full-column scan the one-job form pays
    (~0.5s per 250k-event epoch at 32 cores — 15-20%% of steady-state
    epoch time, and proportionally worse as envelopes grow) becomes two
    near-free jobs. Tombstones are excluded by op, not by
    ``value_col IS NOT NULL``, precisely so job 1 stays off the wide
    column. If any picked LSN yields no envelope (null/corrupt boundary
    row), the one-job form — which samples among NON-NULL envelopes — is
    rerun as a fallback, so boundary samples are never silently lost;
    that pays the wide-column scan only on the rare corrupt-boundary
    path. The point-fetch is bounded with ``limit()``: ``order_col``
    need not be unique, and without the bound every row sharing a picked
    LSN would be pulled to the driver."""
    nn = batch.filter(F.col(op_col) != delete_op)
    aggs = [F.min(order_col).alias("_first"), F.max(order_col).alias("_last")] + [
        F.min_by(order_col, F.xxhash64(F.lit(i), F.col(order_col))).alias(f"_s{i}")
        for i in range(seeds)
    ]
    rows = nn.agg(*aggs).collect()
    if not rows or rows[0][0] is None:
        return []
    lsns = sorted({v for v in rows[0] if v is not None})
    fetched = (
        batch.filter(F.col(order_col).isin(lsns) & F.col(value_col).isNotNull())
        .select(order_col, value_col)
        .limit(4 * len(lsns))
        .collect()
    )
    if {r[0] for r in fetched} != set(lsns):
        # a picked row carried no envelope — re-pick among rows that DO
        # (the one-job form's semantics), instead of losing the sample
        return observe_envelope_samples(batch, value_col, order_col, seeds)
    return sorted({r[1] for r in fetched})


def _native_key_items(config: ConverterConfig) -> list[tuple[str, str]]:
    """Union of all schemas' key maps as (dotted_path, folded_target_col),
    deterministic order: the JVM analogue of the compiled instruction list
    (JC:198-209), built once per plan."""
    seen: dict[str, str] = {}
    for schema_name in sorted(config.keys):
        for old, new in sorted(config.keys[schema_name].items()):
            seen.setdefault(config.fold(new), old)
    return [(old, new) for new, old in seen.items()]


def _native_path_expr(dotted: str, schema: T.StructType):
    """Compile a dotted path against the registry's (possibly widened)
    envelope schema. A segment the schema does not (yet) carry compiles to
    NULL — pre-evolution epochs read the new column as null, which is the
    additive-widening contract (SURVEY.md N2). Array segments unwrap to
    element [0] (JC:561-562); map segments to the first value in key order
    (deterministic surrogate, SURVEY.md §2.1 O9)."""
    cur_type: T.DataType = schema
    expr = F.col("_env")
    for seg in dotted.split("."):
        if isinstance(cur_type, T.ArrayType):
            expr = F.element_at(expr, 1)
            cur_type = cur_type.elementType
        if isinstance(cur_type, T.MapType):
            expr = F.element_at(F.map_values(F.map_from_entries(
                F.array_sort(F.map_entries(expr)))), 1)
            cur_type = cur_type.valueType
        if not isinstance(cur_type, T.StructType) or seg not in cur_type.fieldNames():
            return F.lit(None).cast("string")
        expr = expr[seg]
        cur_type = cur_type[seg].dataType
    if isinstance(cur_type, T.ArrayType):  # leaf unwrap: array head
        expr = F.element_at(expr, 1)
    return expr


def convert_events(
    events: DataFrame,
    config: ConverterConfig,
    parse_mode: str = "native",
    envelope_schema: T.StructType | None = None,
    include_payload: bool = False,
    include_raw: bool = False,
) -> DataFrame:
    """events(lsn, op, schema_name, value_json, key_json, kafka_*) ->
    typed (repo, path, commit, lang, content, lsn, op, kafka_*).

    Tombstones carry no envelope (JC:316-318); their merge keys are
    recovered from the CDC key (``key_json``) JVM-side.
    """
    # Key columns come from the CDC record key (key_json) FIRST, falling
    # back to the envelope: deletes carry only the key (JC:316-318). A
    # pass that needs only keys+lsn+op still parses the envelope once in
    # the ingest path, because the corrupt-row filter reads ``_env``.
    key_from_key_json = {
        "repo": F.get_json_object("key_json", "$.repo"),
        "path": F.get_json_object("key_json", "$.path"),
    }

    if parse_mode == "reference":
        passthrough = ("lsn", "op", "key_json", "kafka_partition", "kafka_offset")
        if include_raw:
            passthrough += ("value_json",)
        conv = convert_stream(
            events,
            config,
            value_col="value_json",
            schema_col="schema_name",
            passthrough=passthrough,
        )
        sel = []
        for _old, new_col in _native_key_items(config):
            col = F.col(new_col)
            if new_col in key_from_key_json:
                col = F.coalesce(key_from_key_json[new_col], col)
            sel.append(col.alias(new_col))
        tail = [F.col(config.payload_column).alias("payload")] if include_payload else []
        if include_raw:
            # raw envelope + key kept for the quarantine side output —
            # corrupt rows stay inspectable/repairable/replayable (O19)
            tail += [F.col("value_json"), F.col("key_json")]
        return conv.select(
            *sel, "lsn", "op", "kafka_partition", "kafka_offset", *tail,
            F.col("_error").isNotNull().alias("_corrupt"),
        )

    if envelope_schema is None:
        raise ValueError("native parse mode requires an envelope schema (registry-compiled)")
    # corrupt-record channel: PERMISSIVE from_json yields a struct of nulls
    # (not a null struct) for partially-parseable input, so corruption is
    # detected via the dedicated corrupt-record column, exactly
    parse_schema = T.StructType(
        list(envelope_schema.fields) + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    # Parse once (JC:392-393): a one-element ``inline`` is a barrier that
    # Catalyst cannot collapse projections or push the ``_corrupt`` filter
    # through, so ``from_json`` runs once per row instead of being inlined
    # into every column and the filter that reads ``_env``.
    parsed = events.select("*", F.inline(F.array(F.struct(F.from_json(
        "value_json",
        parse_schema,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
    ).alias("_env")))))
    sel = []
    for old_path, new_col in _native_key_items(config):
        if new_col in key_from_key_json:
            # CDC contract: the record key carries the merge key for EVERY
            # event (deletes have no envelope at all, JC:316-318), so it is
            # taken from key_json alone, with no envelope fallback.
            col = key_from_key_json[new_col]
        else:
            col = _native_path_expr(old_path, envelope_schema)
        sel.append(col.cast("string").alias(new_col))
    tail = [F.to_json(F.col("_env").dropFields("_corrupt_record")).alias("payload")] if include_payload else []
    if include_raw:
        # raw envelope + key kept for the quarantine side output — corrupt
        # rows stay inspectable/repairable/replayable (O19). Catalyst prunes
        # these from the merge path once they are dropped there.
        tail += [F.col("value_json"), F.col("key_json")]
    # Without this flag a corrupt UPDATE would LWW-win with null content.
    corrupt = F.col("value_json").isNotNull() & (
        F.col("_env").isNull() | F.col("_env._corrupt_record").isNotNull()
    )
    return parsed.select(
        *sel, "lsn", "op", "kafka_partition", "kafka_offset", *tail,
        corrupt.alias("_corrupt"),
    )


class IngestAuditError(RuntimeError):
    """An epoch failed its ``ingest(audit=...)`` expectations. Carries
    the epoch id and the full ``audit_staged`` report; with the default
    ``audit_on_fail="keep"`` the staged epoch remains on disk for
    inspection and a manual ``publish``/``discard``."""

    def __init__(self, epoch: int, report: dict, table: str | None = None):
        self.epoch = epoch
        self.report = report
        self.table = table
        failed = sorted(
            name for name, c in report["checks"].items() if not c["passed"]
        )
        where = f"table {table!r} epoch {epoch}" if table else f"epoch {epoch}"
        super().__init__(
            f"{where} failed audit expectations {failed}; the epoch "
            "is staged but NOT published"
        )


def ingest(
    spark: SparkSession,
    events: DataFrame,
    sink_root: str,
    n_events: int,
    n_epochs: int = 4,
    parse_mode: str = "native",
    config: ConverterConfig | None = None,
    registry: SchemaRegistry | None = None,
    num_buckets: int = 64,
    fail_after_epochs: int | None = None,
    epoch_source=None,
    quarantine: bool = False,
    pipeline_observe: bool = True,
    epoch_offset: int = 0,
    lsn_lo: int = 0,
    audit: dict | None = None,
    audit_on_fail: str = "keep",
    **sink_kwargs,
) -> BucketedMergeSink:
    """Replay ``events`` into the sink in ``n_epochs`` LSN-range epochs.

    Resumable: committed epochs are skipped (manifest = checkpoint).
    ``fail_after_epochs`` injects a crash for the replay-parity test.
    ``epoch_source(lo, hi)``, when given, supplies each epoch's events
    directly (binlog-tail property: an epoch reads only its own LSN
    range) instead of filtering ``events`` — for file-backed sources the
    filter path gets the same effect from parquet min/max pruning.
    ``pipeline_observe`` (default on) prefetches the NEXT epoch's
    envelope samples and schema inference on a second job-submission
    thread while the current epoch's merge runs, removing its driver
    round-trips of serial time per epoch; parity-tested byte-identical
    to the serial form (test_pipelined_observe_parity).
    ``epoch_offset``/``lsn_lo`` shift the epoch ids and the LSN window
    start so a binlog TAIL can continue a sink whose earlier epochs were
    committed by another phase (snapshot bootstrap — see
    ``streaming.bootstrap``): epochs get ids ``epoch_offset ..
    epoch_offset + n_epochs - 1`` and cover LSNs ``[lsn_lo, n_events)``.
    Defaults (0, 0) preserve the original single-phase behavior exactly.

    ``audit`` routes every epoch through write-audit-publish instead of
    a direct merge (the reference's per-record fail-fast admission,
    JC:508-549, generalized onto the replay driver): the converted epoch
    is ``stage``d invisibly, ``audit_staged`` runs the expectations (see
    its docstring for the keys), and only a passing epoch ``publish``es.
    A failing epoch raises :class:`IngestAuditError` carrying the report
    — with ``audit_on_fail="keep"`` (default) the staged epoch stays on
    disk for inspection (``read_staged_delta``) and a later manual
    ``publish``/``discard``; ``"discard"`` drops it first. Resumable
    like the plain path: a crash between stage and publish re-audits the
    already-staged epoch on the next run and lands it without rewriting.
    """
    if audit_on_fail not in ("keep", "discard"):
        raise ValueError("audit_on_fail must be 'keep' or 'discard'")
    config = config or default_config()
    registry = registry or SchemaRegistry()
    sink = BucketedMergeSink(
        spark, sink_root, keys=["repo", "path"], order_col="lsn",
        num_buckets=num_buckets, **sink_kwargs,
    )

    # Restore the registry snapshot committed with the last epoch (N2+N7):
    # a resume must NOT re-infer from scratch — a field observed only in
    # already-committed epochs would otherwise be silently dropped from
    # from_json and read as null after the crash.
    stored_registry = sink.meta().get("registry")
    if stored_registry:
        for name, st in SchemaRegistry.from_json(stored_registry).items():
            registry.observe(name, st)

    per_epoch = max(1, -(-(n_events - lsn_lo) // n_epochs))  # ceil
    done = 0
    committed = sink.committed_epochs()
    todo = [
        e for e in range(epoch_offset, epoch_offset + n_epochs) if e not in committed
    ]

    def _epoch_batch(epoch: int) -> DataFrame:
        rel = epoch - epoch_offset
        lo, hi = lsn_lo + rel * per_epoch, lsn_lo + (rel + 1) * per_epoch
        if epoch_source is not None:
            return epoch_source(lo, hi)
        return events.filter((F.col("lsn") >= lo) & (F.col("lsn") < hi))

    def _observe(batch: DataFrame) -> list[T.StructType]:
        samples = observe_envelope_samples_pruned(batch, "value_json", "lsn")
        return infer_envelope_schemas_batch(spark, samples)

    # Observation pipelining: the sample-pick/point-fetch jobs and the
    # schema fold for epoch k+1 are read-only on the source, so they can
    # run on a second job-submission thread WHILE epoch k's merge occupies
    # the cluster — their driver round-trips of pure serial time per epoch
    # move off the critical path. Ordering is preserved where it matters: the
    # prefetch only COMPUTES the inferred schemas; registry.observe still
    # happens on this thread in epoch order, so the registry snapshot
    # committed with epoch k reflects exactly epochs <= k (a crash/resume
    # sees the same state as the serial form).
    pool = ThreadPoolExecutor(max_workers=1) if (
        pipeline_observe and parse_mode == "native" and len(todo) > 1
    ) else None
    prefetched: dict[int, object] = {}
    try:
        for idx, epoch in enumerate(todo):
            batch = _epoch_batch(epoch)

            env_schema = None
            if parse_mode == "native":
                # registry observe per epoch (N2): widen over SEVERAL sampled
                # envelopes, not just one — JSON envelopes omit null fields, so
                # a field present only in some rows must still be observed or
                # from_json reads it as null. One aggregation job collects the
                # first/last envelopes by LSN plus hash-picked pseudo-random
                # rows spread across the epoch (min_by with independent seeds).
                fut = prefetched.pop(epoch, None)
                inferred_list = fut.result() if fut is not None else _observe(batch)
                for inferred in inferred_list:
                    registry.observe("SourceChange", inferred)
                env_schema = registry.get("SourceChange")
                if env_schema is None:
                    raise ValueError("no envelope observed — empty first epoch with no registry state")
                if pool is not None and idx + 1 < len(todo):
                    nxt = todo[idx + 1]
                    prefetched[nxt] = pool.submit(_observe, _epoch_batch(nxt))

            typed = convert_events(batch, config, parse_mode, env_schema, include_raw=quarantine)
            if quarantine:
                # bad-record side output (O19): corrupt envelopes never reach
                # the MERGE (a corrupt update must not LWW-win with nulls);
                # written before the epoch commits so replay re-quarantines.
                # Carries the raw value_json/key_json so quarantined records
                # can be inspected, repaired, and replayed.
                bad = typed.filter(F.col("_corrupt")).drop("_corrupt")
                qdir = os.path.join(sink_root, "quarantine", f"e{epoch:06d}")
                if os.path.exists(qdir):
                    shutil.rmtree(qdir)
                bad.write.parquet(qdir)
                typed = typed.drop("value_json", "key_json")
            typed = typed.filter(~F.col("_corrupt")).drop("_corrupt")
            # the registry snapshot commits atomically WITH the epoch, so the
            # checkpoint always carries the schema state that produced it
            meta = {"registry": registry.to_json()} if parse_mode == "native" else None
            if audit is None:
                sink.merge(typed, epoch, meta=meta)
            else:
                # WAP gate: stage (no-op if a crashed prior run already
                # staged this epoch), audit, publish-or-fail
                sink.stage(typed, epoch, meta=meta)
                report = sink.audit_staged(epoch, audit)
                if not report["passed"]:
                    if audit_on_fail == "discard":
                        sink.discard(epoch)
                    raise IngestAuditError(epoch, report)
                sink.publish(epoch)
            done += 1
            if fail_after_epochs is not None and done >= fail_after_epochs:
                raise RuntimeError(f"injected crash after {done} epochs (test hook)")
    finally:
        if pool is not None:
            # a crash mid-merge must not hang on an in-flight prefetch; the
            # prefetch is read-only so abandoning it is safe
            for f in prefetched.values():
                f.cancel()
            pool.shutdown(wait=False)
    return sink


def replay_quarantine(
    spark: SparkSession,
    sink_root: str,
    repair,
    config: ConverterConfig | None = None,
    registry: SchemaRegistry | None = None,
) -> dict:
    """Repair-and-replay the dead-letter channel (the operational closure
    of O19): read every not-yet-consumed quarantine directory, apply the
    caller's ``repair`` (DataFrame -> DataFrame over the raw
    ``value_json``/``key_json`` columns), re-convert, MERGE the repaired
    rows as a new epoch, and re-quarantine rows that remain corrupt.

    Correct under LWW by construction: rows keep their original ``lsn``
    and the sink's merge re-runs max-by-lsn against the live table, so a
    repaired STALE update can never clobber a newer good version — no
    special-casing needed.

    Exactly-once: consumed quarantine directories are recorded in the
    manifest ``meta`` committed atomically WITH the replay epoch, so a
    crash before commit re-runs the whole replay (idempotent) and a crash
    after commit skips the already-consumed directories. Still-corrupt
    rows are written to ``quarantine/replay-e{epoch}`` BEFORE the commit
    (same ordering as the main path) and are themselves replayable.
    """
    config = config or default_config()
    sink = BucketedMergeSink.open(spark, sink_root)

    qroot = os.path.join(sink_root, "quarantine")
    consumed = set(sink.meta().get("quarantine_replayed", []))
    pending = sorted(
        d for d in (os.listdir(qroot) if os.path.isdir(qroot) else [])
        if d not in consumed
    )
    if not pending:
        return {"replayed": 0, "still_corrupt": 0, "epoch": None, "consumed": []}

    raw = (
        spark.read.parquet(*[os.path.join(qroot, d) for d in pending])
        .select("lsn", "op", "value_json", "key_json", "kafka_partition", "kafka_offset")
        # a crash between the replay-quarantine write and the epoch commit
        # leaves an orphan replay-e* dir whose rows overlap the (still
        # unconsumed) source dirs; lsn is the unique event id, so one
        # dedup restores exactly-once input regardless of crash point
        .dropDuplicates(["lsn"])
    )
    repaired = repair(raw)

    # registry: resume from the committed snapshot, then observe the
    # repaired envelopes (a repair may reveal fields the corrupt form hid)
    registry = registry or SchemaRegistry()
    stored = sink.meta().get("registry")
    if stored:
        for name, st in SchemaRegistry.from_json(stored).items():
            registry.observe(name, st)
    samples = observe_envelope_samples(repaired, "value_json", "lsn")
    for st in infer_envelope_schemas_batch(spark, samples):  # skips corrupt ones
        registry.observe("SourceChange", st)
    env_schema = registry.get("SourceChange")
    if env_schema is None:
        raise ValueError("no parseable envelope among repaired rows and no registry state")

    typed = convert_events(repaired, config, "native", env_schema, include_raw=True)
    epoch = max(sink.committed_epochs(), default=-1) + 1

    bad = typed.filter(F.col("_corrupt")).drop("_corrupt")
    qdir = os.path.join(qroot, f"replay-e{epoch:06d}")
    if os.path.exists(qdir):  # orphan from a crashed attempt
        shutil.rmtree(qdir)
    counted = Observation("still_corrupt")
    bad.observe(counted, F.count(F.lit(1)).alias("n")).write.parquet(qdir)
    still_corrupt = counted.get["n"]
    if still_corrupt == 0:
        shutil.rmtree(qdir)  # nothing left dead-lettered: no empty pending dir

    good = typed.filter(~F.col("_corrupt")).drop("_corrupt", "value_json", "key_json")
    stats = sink.merge(
        good, epoch,
        meta={
            "registry": registry.to_json(),
            "quarantine_replayed": sorted(consumed | set(pending)),
        },
    )
    replayed = sum(r["n_events"] for r in stats.get("lineage", []))
    return {
        "replayed": replayed,
        "still_corrupt": still_corrupt,
        "epoch": epoch,
        "consumed": pending,
    }
