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
- ``"native"``    — the registry compiles the envelope schema on the
  driver (``observe_epoch``): each epoch it widens until it resolves
  every configured key path that any envelope carries, probing only the
  paths it lacks, so an epoch with none missing costs no job. Then the
  hot path is pure JVM: ``from_json`` + column extraction, whole-stage
  codegen end-to-end. This is the 100 TB path: zero Python in the loop.

Epochs are LSN ranges (a binlog tail is ordered); the sink's manifest is
the checkpoint — ``ingest`` skips epochs the manifest already committed,
so re-running after a crash resumes and converges to a byte-identical
final state (sha256-per-row parity test in tests/test_ingest_e2e.py).
"""

from __future__ import annotations

import os
import shutil

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import ConverterConfig, IdentifierRule
from ..operators.extract import convert_stream
from ..plans.registry import SchemaRegistry
from .sink import BucketedMergeSink, fold_on_driver

#: target columns read from the CDC record key (``key_json``) before the
#: envelope, with their JSONPath there: deletes carry only the key
#: (JC:316-318)
KEY_FROM_KEY_JSON = {"repo": "$.repo", "path": "$.path"}


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
    ones still observe (the rare path — the sampler already skips
    envelopes that do not parse as JSON objects)."""
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
    """Driver-side schema inference from the first non-null envelope (one
    take(1)), for one-shot callers outside the ingest loops."""
    sample = (
        events.filter(F.col(value_col).isNotNull()).select(value_col).limit(1).collect()
    )
    if not sample:
        return T.StructType([])
    return infer_envelope_schema_from_sample(spark, sample[0][0])


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
    envelope schema into ``(expr, probe)``: ``expr`` reads it from the
    parsed ``_env``, or is None where the schema lacks a segment (read as
    null, the additive-widening contract, SURVEY.md N2); ``probe`` is its
    JSONPath in a raw envelope. Array segments unwrap to element [0] in
    both (JC:561-562); map segments to the first value in key order
    (SURVEY.md §2.1 O9), which no JSONPath expresses: no probe."""
    cur_type: T.DataType = schema
    expr, probe = F.col("_env"), "$"
    segs = dotted.split(".")
    for i, seg in enumerate(segs):
        if isinstance(cur_type, T.ArrayType):
            expr, probe = F.element_at(expr, 1), probe and probe + "[0]"
            cur_type = cur_type.elementType
        if isinstance(cur_type, T.MapType):
            expr, probe = F.element_at(F.map_values(F.map_from_entries(
                F.array_sort(F.map_entries(expr)))), 1), None
            cur_type = cur_type.valueType
        if not isinstance(cur_type, T.StructType) or seg not in cur_type.fieldNames():
            return None, probe and ".".join([probe, *segs[i:]])
        expr, probe = expr[seg], probe and f"{probe}.{seg}"
        cur_type = cur_type[seg].dataType
    if isinstance(cur_type, T.ArrayType):  # leaf unwrap: array head
        expr = F.element_at(expr, 1)
    return expr, probe


def _prune_to_paths(dt: T.DataType, paths: list[list[str]]) -> T.DataType:
    """``dt`` keeping only the fields that the split dotted ``paths`` walk,
    through array elements and map values as ``_native_path_expr`` does;
    the last field of a path keeps its whole type. Parsing with it, a
    field that the sink never reads cannot make an envelope corrupt by
    changing its JSON type (``from_json`` makes every field nullable)."""
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_prune_to_paths(dt.elementType, paths))
    if isinstance(dt, T.MapType):
        return T.MapType(dt.keyType, _prune_to_paths(dt.valueType, paths))
    if not isinstance(dt, T.StructType) or [] in paths:
        return dt
    walked = {p[0] for p in paths}
    return T.StructType([
        T.StructField(f.name, _prune_to_paths(f.dataType, [p[1:] for p in paths if p[0] == f.name]))
        for f in dt.fields if f.name in walked
    ])


def observe_envelope_samples_pruned(
    batch: DataFrame, probes: list[str], with_first: bool
) -> list[str]:
    """In ONE aggregation over ``batch``: per JSONPath in ``probes``, the
    first parseable envelope by ``lsn`` carrying a non-null value there,
    plus, with ``with_first``, the first parseable envelope. Null and
    unparseable envelopes never win, and at most ``len(probes) + 1``
    distinct samples return, however many rows share an ``lsn``."""
    parseable = F.json_object_keys("value_json").isNotNull()
    # the carrier test first: ``&`` short-circuits, so only carriers pay
    # the validity parse
    conds = [F.get_json_object("value_json", p).isNotNull() & parseable for p in probes]
    if with_first:
        conds.append(parseable)
    row = batch.agg(
        *[F.min_by("value_json", F.when(c, F.col("lsn"))) for c in conds]
    ).collect()[0]
    return sorted({v for v in row if v is not None})


def restore_registry(sink: BucketedMergeSink, registry: SchemaRegistry | None) -> SchemaRegistry:
    """``registry`` (fresh when None) widened with the snapshot committed
    with the sink's last epoch (N2+N7): a field observed only in committed
    epochs must not read as null after a resume."""
    registry = registry or SchemaRegistry()
    stored = sink.meta().get("registry")
    if stored:
        for name, st in SchemaRegistry.from_json(stored).items():
            registry.observe(name, st)
    return registry


def _envelope_key_paths(config: ConverterConfig) -> list[str]:
    """The configured key paths read from the envelope (not ``key_json``)."""
    return [old for old, new in _native_key_items(config) if new not in KEY_FROM_KEY_JSON]


def observe_epoch(
    spark: SparkSession, batch: DataFrame, config: ConverterConfig, registry: SchemaRegistry,
    sample_first: bool,
) -> T.StructType | None:
    """Widen ``registry`` until it resolves every envelope key path that
    any row of ``batch`` carries, and return its schema (None while
    nothing was ever observed). The sink stores only key paths, so this
    observation is complete. No job runs when no path is missing;
    otherwise one aggregation finds carriers. ``sample_first`` (implied
    while the registry is empty) also observes the first parseable
    envelope, so a key path whose type changed is widened to its new
    type: ``replay_quarantine`` sets it for rows that were quarantined
    for such a change."""
    current = registry.get("SourceChange")
    walks = [_native_path_expr(path, current or T.StructType([]))
             for path in _envelope_key_paths(config)]
    probes = [probe for expr, probe in walks if expr is None and probe is not None]
    sample_first = sample_first or current is None
    if not sample_first and not probes:
        return current
    samples = observe_envelope_samples_pruned(batch, probes, sample_first)
    for inferred in infer_envelope_schemas_batch(spark, samples):
        registry.observe("SourceChange", inferred)
    return registry.get("SourceChange")


def convert_events(
    events: DataFrame,
    config: ConverterConfig,
    parse_mode: str = "native",
    envelope_schema: T.StructType | None = None,
    include_raw: bool = False,
) -> DataFrame:
    """events(lsn, op, schema_name, value_json, key_json, kafka_*) ->
    typed (repo, path, commit, lang, content, lsn, op, kafka_*).

    Tombstones carry no envelope (JC:316-318); their merge keys are
    recovered from the CDC key (``key_json``) JVM-side.
    """
    # A pass that needs only keys+lsn+op still parses the envelope once in
    # the ingest path, because the corrupt-row filter reads ``_env``.
    key_from_key_json = {
        col: F.get_json_object("key_json", path) for col, path in KEY_FROM_KEY_JSON.items()
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
        # raw envelope + key kept for the quarantine side output — corrupt
        # rows stay inspectable/repairable/replayable (O19)
        tail = [F.col("value_json"), F.col("key_json")] if include_raw else []
        return conv.select(
            *sel, "lsn", "op", "kafka_partition", "kafka_offset", *tail,
            F.col("_error").isNotNull().alias("_corrupt"),
        )

    if envelope_schema is None:
        raise ValueError("native parse mode requires an envelope schema (registry-compiled)")
    # only the fields the key paths walk are parsed: a row is corrupt when
    # it is not JSON or a walked field has an unexpected type
    envelope_schema = _prune_to_paths(
        envelope_schema, [path.split(".") for path in _envelope_key_paths(config)])
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
            col = _native_path_expr(old_path, envelope_schema)[0]
            if col is None:
                col = F.lit(None)
        sel.append(col.cast("string").alias(new_col))
    # raw envelope + key kept for the quarantine side output — corrupt rows
    # stay inspectable/repairable/replayable (O19). Catalyst prunes these
    # from the merge path once they are dropped there.
    tail = [F.col("value_json"), F.col("key_json")] if include_raw else []
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


def epoch_committer(audit: dict | None, audit_on_fail: str):
    """Check ``audit_on_fail`` and return ``commit(sink, typed, epoch,
    meta, table)``, the write-audit-publish (WAP) gate of ``ingest`` and
    ``route_ingest``: a merge without ``audit``, else stage (a no-op if a
    crashed run already staged the epoch), audit, then publish or raise
    :class:`IngestAuditError`, discarding first on ``"discard"``."""
    if audit_on_fail not in ("keep", "discard"):
        raise ValueError("audit_on_fail must be 'keep' or 'discard'")

    def commit(sink: BucketedMergeSink, typed: DataFrame, epoch: int,
               meta: dict | None, table: str | None) -> None:
        if audit is None:
            sink.merge(typed, epoch, meta=meta)
            return
        sink.stage(typed, epoch, meta=meta)
        report = sink.audit_staged(epoch, audit)
        if not report["passed"]:
            if audit_on_fail == "discard":
                sink.discard(epoch)
            raise IngestAuditError(epoch, report, table=table)
        sink.publish(epoch)

    return commit


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
    In native mode each epoch first runs ``observe_epoch``, which submits
    no job when the registry already resolves every envelope key path and
    one aggregation otherwise.
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
    commit = epoch_committer(audit, audit_on_fail)
    config = config or default_config()
    sink = BucketedMergeSink(
        spark, sink_root, keys=["repo", "path"], order_col="lsn",
        num_buckets=num_buckets, **sink_kwargs,
    )
    registry = restore_registry(sink, registry)

    per_epoch = max(1, -(-(n_events - lsn_lo) // n_epochs))  # ceil
    done = 0
    committed = sink.committed_epochs()
    for epoch in range(epoch_offset, epoch_offset + n_epochs):
        if epoch in committed:
            continue
        lo = lsn_lo + (epoch - epoch_offset) * per_epoch
        hi = lo + per_epoch
        if epoch_source is not None:
            batch = epoch_source(lo, hi)
        else:
            batch = events.filter((F.col("lsn") >= lo) & (F.col("lsn") < hi))

        env_schema = None
        if parse_mode == "native":
            # observe in epoch order, so the registry snapshot committed
            # with epoch k reflects exactly epochs <= k
            env_schema = observe_epoch(spark, batch, config, registry, sample_first=False)
            if env_schema is None:
                raise ValueError("no envelope observed — empty first epoch with no registry state")

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
        commit(sink, typed, epoch, meta, None)
        done += 1
        if fail_after_epochs is not None and done >= fail_after_epochs:
            raise RuntimeError(f"injected crash after {done} epochs (test hook)")
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

    # registry: resume from the committed snapshot, then learn every key
    # path the repaired envelopes carry that it lacks (a repair may reveal
    # paths the corrupt form hid); still-corrupt rows never teach it
    registry = restore_registry(sink, registry)
    env_schema = observe_epoch(spark, repaired, config, registry, sample_first=True)
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
