"""Exactly-once idempotent MERGE sink — SURVEY.md §2.2 N5/N6/N8.

Semantics of an Iceberg ``MERGE INTO tgt USING src ON keys WHEN MATCHED
AND op='d' THEN DELETE WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN
INSERT``, with idempotent snapshot commits keyed by epoch. The Iceberg
runtime jar is not available in this sandbox (SURVEY.md §7), so the sink
is a thin interface with a **bucketed-parquet + atomic-manifest**
implementation that reproduces the two properties that matter:

1. **Copy-on-write granularity**: the table is hash-bucketed on the merge
   keys (``pmod(xxhash64(keys), num_buckets)``); a MERGE rewrites only the
   buckets containing batch keys. At 100 TB with thousands of buckets this
   bounds the per-epoch rewrite to O(touched data), not O(table) — the
   same file-level pruning a real Iceberg MERGE gets from its partition
   spec + bloom filters.

2. **Exactly-once commits** (N6): the manifest (``_manifest.json``) is the
   single atomic commit point. It records committed epochs;
   re-delivering a committed epoch is a no-op (idempotent — the
   ``foreachBatch(batch_id)`` dedup pattern). Every write lands in a
   fresh ``unique_rel`` dir and no writer deletes anything, so a crash
   before the manifest swap, or a swap lost to another handle, leaves
   only an unnamed dir for ``vacuum``, never a partially visible epoch.

Ordering contract: epochs are applied in LSN order (a binlog/WAL tail is
ordered); within an epoch LWW by ``order_col`` arbitrates, and the stored
``order_col`` arbitrates across epochs, so replaying any suffix of epochs
is convergent.

Lineage (N8): per (epoch, kafka_partition) rows — counts, offset ranges,
max LSN — ride the epoch's manifest entry, so a committed epoch always
has its lineage and an uncommitted one has none (generalizes
getCacheSize() introspection, JC:503-505).

Tombstone handling generalizes the reference's null-value passthrough
(JC:316-318,371-373) into MERGE DELETE.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import shutil
import uuid

from pyspark import InheritableThread
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.dedup import lww_latest, lww_latest_salted

MANIFEST = "_manifest.json"
# optional batch columns that feed lineage, never table state
_LINEAGE_COLS = ("kafka_partition", "kafka_offset")
# the fields of one lineage row of an epoch entry (all bigint)
_LINEAGE_FIELDS = (
    "kafka_partition", "n_events", "min_offset", "max_offset", "max_lsn", "epoch"
)


def unique_rel(prefix: str) -> str:
    """The path one write attempt writes under: ``prefix`` plus a random
    suffix, so no two attempts — a retry, or a rival handle on the same
    root — ever share a directory (the Iceberg/Delta rule that data
    files are uniquely named and immutable)."""
    return f"{prefix}-{uuid.uuid4().hex}"


class ConcurrentCommitError(RuntimeError):
    """Another writer committed to this sink since we loaded its manifest
    — the optimistic-concurrency conflict a real Iceberg commit surfaces.
    Recovery: construct a fresh sink (reload the manifest) and retry; the
    epoch-idempotency check makes the retry safe."""


class NoChanges(ValueError):
    """``read_changes`` was asked for the changelog between two snapshots
    that hold the same data, so there is none to return. Derived state
    catches this type to advance its epoch without writing state."""


class ManifestWriter:
    """Atomic manifest commit seam.

    The default implementation commits via ``os.replace`` — atomic on a
    POSIX filesystem, which is what this sandbox (and HDFS-style rename
    semantics) provide. It is **not object-store-safe**: S3-style stores
    have no atomic rename, so a real deployment swaps in a writer backed
    by a conditional PUT (If-Match / If-None-Match), a DynamoDB-style
    commit log, or an Iceberg/Hive catalog ``commit`` — exactly the seam
    Iceberg's ``TableOperations.commit`` occupies. Only this class needs
    replacing; the sink's epoch/idempotency logic is storage-agnostic.
    """

    def read(self, path: str) -> dict | None:
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        return None

    def commit(self, path: str, manifest: dict) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, path)  # atomic commit point (POSIX rename)


_Z_BITS = 16  # per-column resolution of the Z-order curve


def _z_scaled_raw(col: str, dtype) -> "F.Column":
    """Map a column onto a monotonic double for Z-order scaling.

    Numeric / boolean / timestamp / date cast directly. Strings map
    through their first 6 UTF-8 bytes right-padded with 0x00 — a 48-bit
    big-endian integer (exact in a double), monotone w.r.t. the string's
    lexicographic byte order, the same prefix-truncation trick Iceberg's
    ``zorder`` transform uses on string columns. Sharp edge (shared with
    Iceberg truncation): values sharing a common >= 6-byte prefix (e.g.
    every path starting ``src/``) all map to one constant — that lane
    contributes nothing to the curve. Strip the common prefix into a
    derived column first, or zorder on a higher-entropy column."""
    from pyspark.sql.types import (
        BooleanType, DateType, NumericType, StringType, TimestampType,
    )

    if isinstance(dtype, StringType):
        return F.conv(
            F.rpad(F.hex(F.substring(F.encode(F.col(col), "UTF-8"), 1, 6)), 12, "0"),
            16, 10,
        ).cast("double")
    if isinstance(dtype, (NumericType, BooleanType)):
        return F.col(col).cast("double")
    if isinstance(dtype, (TimestampType, DateType)):
        return F.col(col).cast("timestamp").cast("double")
    raise ValueError(
        f"zorder column {col!r} has unsupported type {dtype.simpleString()}; "
        "supported: numeric, string, boolean, date, timestamp"
    )


def _z_interleave(scaled: list["F.Column"]) -> "F.Column":
    """Interleave k 16-bit lanes into one Z-value (Morton code): bit i of
    lane j lands at position i*k + j. Pure JVM bit arithmetic (16*k
    shift/mask terms), whole-stage-codegen friendly — no UDF."""
    k = len(scaled)
    z = F.lit(0).cast("long")
    for j, s in enumerate(scaled):
        for i in range(_Z_BITS):
            z = z + F.shiftleft(F.shiftright(s, i).bitwiseAND(F.lit(1)), i * k + j)
    return z


def _bloom_enc(kind: str, v) -> bytes:
    """Canonical bytes hashed into per-file Bloom filters — shared by the
    build pass (``analyze(bloom_cols=...)``) and the probe
    (``read_where``) so membership answers are exact. ``kind`` is derived
    from the parquet column type at build time and from the probe value's
    Python type at probe time; a mismatch means "no evidence"."""
    if kind == "bool":
        return b"b:1" if v else b"b:0"
    if kind == "int":
        return b"i:%d" % v
    if kind == "str":
        return b"s:" + v.encode("utf-8")
    return b"y:" + bytes(v)


def _bloom_entry_name(c) -> str:
    """Storage key for a bloom spec: the column name, or the NUL-joined
    member names for a composite (tuple) bloom."""
    return "\u0000".join(c) if isinstance(c, (tuple, list)) else c


def _bloom_value_kind_enc(value):
    """(kind, canonical bytes) for a probe value; (None, b"") when the
    value's type carries no bloom evidence."""
    if isinstance(value, bool):
        return "bool", _bloom_enc("bool", value)
    if isinstance(value, int):
        return "int", _bloom_enc("int", value)
    if isinstance(value, str):
        return "str", _bloom_enc("str", value)
    if isinstance(value, (bytes, bytearray)):
        return "bytes", _bloom_enc("bytes", value)
    return None, b""


def _bloom_bits_contain(entry: dict, enc: bytes) -> bool:
    """False ONLY when the recorded bitset proves the encoded value
    absent; malformed/truncated entries answer True (no evidence)."""
    try:
        m, k = int(entry["m"]), int(entry["k"])
        bits = base64.b64decode(entry["b64"])
    except (KeyError, TypeError, ValueError):
        return True
    if m <= 0 or k <= 0 or len(bits) * 8 < m:
        return True
    d = hashlib.md5(enc).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1
    for i in range(k):
        pos = (h1 + i * h2) % m
        if not (bits[pos >> 3] >> (pos & 7)) & 1:
            return False
    return True


def _bloom_maybe_contains(entry: dict, value) -> bool:
    """False ONLY when the recorded filter proves ``value`` absent from
    the file; every uncertain case (unsupported/mismatched value kind,
    malformed entry) answers True = keep the file."""
    kind, enc = _bloom_value_kind_enc(value)
    if kind is None or entry.get("kind") != kind:
        return True
    return _bloom_bits_contain(entry, enc)


def _bloom_tuple_maybe_contains(entry: dict, values: tuple) -> bool:
    """Composite-bloom probe: False only when the tuple of values is
    proven absent; any kind mismatch or arity mismatch = no evidence."""
    if entry.get("kind") != "tuple":
        return True
    kinds = entry.get("kinds") or []
    if len(kinds) != len(values):
        return True
    parts = []
    for kd, v in zip(kinds, values):
        pk, enc = _bloom_value_kind_enc(v)
        if pk is None or pk != kd:
            return True
        parts.append(enc)
    return _bloom_bits_contain(entry, b"\x1f".join(parts))


def fold_on_driver(spark: SparkSession, *cols: "F.Column") -> Row:
    """Evaluate constant expressions over a one-row local relation. The
    optimizer folds them into a ``LocalTableScan``, so collecting the row
    submits no Spark job — where ``spark.range(1)`` costs one job of
    scheduling round-trips per call."""
    return spark.sql("VALUES (1)").select(
        *[c.alias(f"_c{i}") for i, c in enumerate(cols)]
    ).collect()[0]


def _as_nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, array element and map value nullable —
    the form a parquet read returns whatever the writer declared."""
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _widen(old: T.DataType | None, new: T.DataType) -> T.DataType:
    """Additive schema widening, the rule a ``mergeSchema`` parquet read
    applies across files: ``old``'s fields keep their order, fields only
    ``new`` carries are appended, and structs (also inside arrays and
    maps) widen recursively. A leaf whose type changed takes ``new``'s
    type (the parquet reader widens int to bigint on read)."""
    if old is None:
        return new
    if isinstance(old, T.StructType) and isinstance(new, T.StructType):
        by_name = {f.name: f for f in new.fields}
        fields = [
            f if f.name not in by_name else T.StructField(
                f.name, _widen(f.dataType, by_name[f.name].dataType), True,
                f.metadata,
            )
            for f in old.fields
        ]
        have = set(old.fieldNames())
        return T.StructType(fields + [f for f in new.fields if f.name not in have])
    if isinstance(old, T.ArrayType) and isinstance(new, T.ArrayType):
        return T.ArrayType(_widen(old.elementType, new.elementType), True)
    if isinstance(old, T.MapType) and isinstance(new, T.MapType):
        return T.MapType(
            _widen(old.keyType, new.keyType), _widen(old.valueType, new.valueType), True
        )
    return new


def classify_state_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    order_col: str,
    include_preimages: bool = False,
) -> DataFrame:
    """Full-outer diff of two table STATES (one live row per key,
    tombstone-free) into changelog rows: insert / update_postimage /
    delete (pre-image payload and order for deletes). A key whose
    stored ``order_col`` is unchanged is not a change (LWW: one
    version per key per state, monotone in ``order_col``).

    ``include_preimages=True`` additionally emits an
    ``update_preimage`` row (prior payload + prior order) per update —
    the retraction record an incremental consumer subtracts
    (``streaming/view.py``). Standalone relational form of the sink's
    changelog classification: the sink delegates here, and the same
    semantics apply to any pair of LWW states (e.g. two as-of
    prefixes of one CDC stream)."""
    ct = "_change_type"
    payload_cols = [c for c in new.columns if c not in keys and c != order_col]
    o = old.select(
        *[F.col(k).alias(f"_ok_{k}") for k in keys],
        F.col(order_col).alias("_o_ord"),
        *[F.col(c).alias(f"_o_{c}") for c in payload_cols if c in old.columns],
    )
    n = new.select(
        *[F.col(k).alias(f"_nk_{k}") for k in keys],
        F.col(order_col).alias("_n_ord"),
        *[F.col(c).alias(f"_n_{c}") for c in payload_cols],
    )
    cond = None
    for k in keys:
        eq = o[f"_ok_{k}"].eqNullSafe(n[f"_nk_{k}"])
        cond = eq if cond is None else (cond & eq)
    j = o.join(n, cond, "full_outer")
    present_new = F.col("_n_ord").isNotNull() | F.col(f"_nk_{keys[0]}").isNotNull()
    present_old = F.col("_o_ord").isNotNull() | F.col(f"_ok_{keys[0]}").isNotNull()
    change = (
        F.when(~present_new, F.lit("delete"))
        .when(~present_old, F.lit("insert"))
        .when(F.col("_n_ord") != F.col("_o_ord"), F.lit("update_postimage"))
        .otherwise(F.lit(None))  # same stored version: not a change
    )
    out = j.withColumn(ct, change).filter(F.col(ct).isNotNull())
    sel = [
        F.coalesce(F.col(f"_nk_{k}"), F.col(f"_ok_{k}")).alias(k) for k in keys
    ]
    sel.append(F.col(ct))
    sel.append(F.coalesce(F.col("_n_ord"), F.col("_o_ord")).alias(order_col))
    for c in payload_cols:
        pre = F.col(f"_o_{c}") if f"_o_{c}" in j.columns else F.lit(None)
        sel.append(
            F.when(F.col(ct) == "delete", pre).otherwise(F.col(f"_n_{c}")).alias(c)
        )
    if not include_preimages:
        return out.select(*sel)
    # single-pass form: ONE evaluation of the diff join emits both the
    # post-image row and (for updates) the retraction pre-image row via
    # a 1-or-2-element explode — a unionByName of two projections over
    # `out` would re-evaluate the whole join subtree (and re-scan both
    # inputs) once per branch.
    post_f = [
        F.col(ct).alias("_ct"),
        F.coalesce(F.col("_n_ord"), F.col("_o_ord")).alias("_ord"),
    ]
    pre_f = [
        F.lit("update_preimage").alias("_ct"),
        F.col("_o_ord").alias("_ord"),
    ]
    for c in payload_cols:
        old_c = (
            F.col(f"_o_{c}")
            if f"_o_{c}" in j.columns
            # column added by schema evolution after the old state
            else F.lit(None).cast(new.schema[c].dataType)
        )
        post_f.append(
            F.when(F.col(ct) == "delete", old_c)
            .otherwise(F.col(f"_n_{c}"))
            .alias(c)
        )
        pre_f.append(old_c.alias(c))
    arr = F.when(
        F.col(ct) == "update_postimage",
        F.array(F.struct(*post_f), F.struct(*pre_f)),
    ).otherwise(F.array(F.struct(*post_f)))
    key_sel = [
        F.coalesce(F.col(f"_nk_{k}"), F.col(f"_ok_{k}")).alias(k) for k in keys
    ]
    ex = out.select(*key_sel, F.explode(arr).alias("_e"))
    final = [F.col(k) for k in keys]
    final.append(F.col("_e._ct").alias(ct))
    final.append(F.col("_e._ord").alias(order_col))
    final += [F.col(f"_e.{c}").alias(c) for c in payload_cols]
    return ex.select(*final)


class BucketedMergeSink:
    """Bucketed MERGE sink over parquet, committed through one manifest.

    Manifest fields: the layout (``keys``, ``order_col``,
    ``num_buckets``, ``merge_mode``, ``bucket_cols``), the live state
    (``buckets``: bucket id -> base dir, ``deltas``: pending MOR delta
    dirs), ``epochs`` (one snapshot entry per committed epoch) and the
    table schema:

    - ``schemas``: append-only list of table schemas in Spark JSON, one
      entry per distinct widened schema, so it grows with schema
      evolutions, not with epochs. A table schema is the live row
      columns (keys, ``order_col``, payload); MOR delta files carry
      ``op_col`` as well, and delta reads add it.
    - ``schema_id``: index into ``schemas`` of the live state's schema,
      at top level and in every epoch snapshot entry.

    Every writer records the schema of the frame it writes, widened over
    the live one (columns are only ever added), and every read of the
    sink's data files is planned from the snapshot's recorded schema
    instead of parquet footers. A manifest without ``schemas`` (written
    before schemas were recorded) gets each snapshot's schema from its
    footers once, cached in memory; its next commit records one.

    Every write goes through one core: ``_prepare`` (sink column order
    plus ``_bucket``), ``_start_stats`` (the lineage/touched-bucket pass
    on a second thread), ``_lww`` (one version per key), ``_write_buckets``
    (one directory per bucket), ``_fold`` (rewrite buckets as their live
    base ∪ a delta) and ``_commit_epoch`` (one snapshot through the
    manifest CAS). A write shuffles once: ``_write_buckets`` hash-
    partitions the unreduced rows on ``_bucket`` into ``min(buckets,
    defaultParallelism)`` tasks and runs the LWW, grouped by ``(_bucket,
    *keys)``, inside them; each task writes one file into every bucket dir
    it holds, so a touched bucket gets one file per epoch on any core
    count. ``merge_mode`` decides only where an epoch lands: ``mor``
    appends its reduced rows as a delta, ``cow`` folds them into the
    buckets they touch. Staging writes the same delta in both modes,
    and publishing lands it as a merge would; ``compact()`` is the fold
    over the pending deltas, and Z-order compaction and ``rebucket()``
    rewrite every bucket through ``_write_buckets``.

    Every write lands in its own ``unique_rel`` dir under ``data/``
    (``e…`` merge or COW publish, ``s…`` staged delta, ``c…``
    compaction, ``m…`` rebucket); no writer renames, overwrites or
    deletes a path, so a handle that loses the manifest CAS has touched
    no committed file. ``vacuum`` is the only deleter.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        keys: list[str],
        order_col: str = "lsn",
        op_col: str = "op",
        delete_op: str = "d",
        num_buckets: int = 64,
        salted_merge: bool = False,
        salt_buckets: int = 32,
        sort_within_buckets: bool = False,
        merge_mode: str = "mor",
        compact_every: int | None = 8,
        bucket_cols: list[str] | None = None,
    ) -> None:
        self.spark = spark
        self.root = root
        self.keys = keys
        self.order_col = order_col
        self.op_col = op_col
        self.delete_op = delete_op
        self.num_buckets = num_buckets
        # salted_merge: two-level LWW reduce (N4) for pathological per-key
        # skew (one (repo,path) receiving a large fraction of an epoch). On
        # reads the first level shuffles on (keys, salt), so a hot key fans
        # out over reducers. Writes partition on _bucket first, so all rows
        # of a key already share a task: there the salt only splits that
        # task's reduce in two, with no shuffle and no spread. Off by
        # default since hash-bucketing already spreads key-space skew.
        self.salted_merge = salted_merge
        self.salt_buckets = salt_buckets
        # merge_mode: where an epoch lands. "mor" (merge-on-read, the
        # default) appends the epoch's LWW-reduced DELTA (deletes kept as
        # tombstone markers) — writes pay O(batch), reads merge base +
        # deltas until ``compact()`` folds them down. It is the
        # 10^10-event shape:
        # epoch cost stops scaling with table size (measured 1.46x COW at
        # 50M events), and it is the mode that holds the >=0.8 N->4N
        # scaling target. "cow" (copy-on-write) folds the epoch into every
        # bucket it touches — reads are a plain scan, writes pay
        # O(touched table slice); right for read-heavy small tables.
        if merge_mode not in ("cow", "mor"):
            raise ValueError(f"merge_mode must be cow|mor, got {merge_mode!r}")
        self.merge_mode = merge_mode
        # compact_every (MOR only): auto-fold deltas once the pending
        # DELTA-EPOCH count reaches this — bounds read amplification
        # (reads merge O(compact_every) deltas at most) the way real MOR
        # tables bound their delete-file chains. None = manual compact();
        # the default 8 keeps a default MOR sink's read path bounded.
        self.compact_every = compact_every
        # sort_within_buckets: cluster each bucket file by the merge keys
        # before write (Iceberg SORTED BY analogue). Costs one in-task
        # sort per epoch; buys parquet row-group min/max stats that let a
        # key-predicate scan skip row groups — the point-lookup pruning
        # lever at 10^10 rows. Off by default: pure replay throughput
        # doesn't read by key.
        self.sort_within_buckets = sort_within_buckets
        # bucket_cols: hash-bucket on a SUBSET of the merge keys (the
        # Iceberg hidden-partitioning `bucket(N, col)`-on-one-column
        # analogue). Every row of a key still lands in one bucket (the
        # subset's values are fixed per key), so MERGE/LWW correctness is
        # untouched — but now a lookup that binds only the subset (e.g.
        # all paths of one repo when keys=(repo, path)) prunes to ONE
        # bucket via ``read_prefix`` instead of scanning the table.
        # Tradeoff, stated: one hot subset value (a monorepo) concentrates
        # its keys in a single bucket — size num_buckets for the hottest
        # tenant, or keep the default (all keys) when no prefix-lookup
        # pattern exists. Fixed at table creation (recorded in the
        # manifest); num_buckets may still evolve via rebucket().
        cols = list(bucket_cols) if bucket_cols is not None else list(keys)
        if not cols or any(c not in keys for c in cols):
            raise ValueError(
                f"bucket_cols must be a non-empty subset of keys={keys}, got {cols}"
            )
        self.bucket_cols = cols
        self._writer = ManifestWriter()
        # parsed ``schemas`` entries by JSON text, and footer-inferred
        # schemas of legacy snapshots by their file list
        self._parsed_schemas: dict[str, T.StructType] = {}
        self._footer_schemas: dict[tuple[str, ...], T.StructType] = {}
        os.makedirs(root, exist_ok=True)
        self._manifest = self._load_manifest()

    @classmethod
    def open(cls, spark: SparkSession, root: str, **kwargs) -> "BucketedMergeSink":
        """Open an EXISTING sink adopting the layout recorded in its
        manifest (keys/order_col/num_buckets) — the Iceberg-style 'table
        metadata comes from the catalog' path. The constructor, by
        contrast, validates caller-supplied layout and raises on mismatch."""
        stored = ManifestWriter().read(os.path.join(root, MANIFEST))
        if stored is None:
            raise ValueError(f"no sink manifest at {root!r} — nothing to open")
        return cls(
            spark, root, keys=list(stored["keys"]), order_col=stored["order_col"],
            num_buckets=int(stored["num_buckets"]),
            merge_mode=stored.get("merge_mode", "cow"),
            bucket_cols=list(stored.get("bucket_cols", stored["keys"])), **kwargs,
        )

    # ----- manifest ------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.root, MANIFEST)

    def _load_manifest(self) -> dict:
        existing = self._writer.read(self._manifest_path())
        if existing is not None:
            # Layout invariants live in the manifest: data on disk was
            # bucketed by the stored (keys, num_buckets) and ordered by the
            # stored order_col. A constructor that disagrees would make
            # _bucket_expr read/rewrite the WRONG buckets — silent row loss
            # and duplicate keys — so mismatches are a hard error.
            for attr, key in (("keys", "keys"), ("order_col", "order_col"),
                              ("num_buckets", "num_buckets"),
                              ("merge_mode", "merge_mode"),
                              ("bucket_cols", "bucket_cols")):
                if key == "merge_mode":
                    stored = existing.get(key, "cow")
                elif key == "bucket_cols":
                    # legacy manifests predate prefix bucketing: all keys
                    stored = existing.get(key, existing["keys"])
                else:
                    stored = existing[key]
                given = getattr(self, attr)
                if stored != given:
                    raise ValueError(
                        f"sink at {self.root!r} was created with {key}={stored!r}; "
                        f"reopening with {key}={given!r} would corrupt the bucket "
                        "layout. Pass the original value (it is recorded in "
                        f"{MANIFEST})."
                    )
            return existing
        return {
            "keys": self.keys,
            "order_col": self.order_col,
            "num_buckets": self.num_buckets,
            "merge_mode": self.merge_mode,
            "bucket_cols": self.bucket_cols,
            "epochs": [],
            "buckets": {},
            "deltas": [],
            "schemas": [],
        }

    def _commit_manifest(self, manifest: dict) -> None:
        # Optimistic concurrency (Iceberg commit-conflict analogue): the
        # manifest on storage must still be the one this writer based its
        # merge on. A true atomic CAS needs the storage layer (see
        # ManifestWriter); this detect-and-raise closes the practical
        # lost-update window of two drivers pointed at one sink root.
        current = self._writer.read(self._manifest_path())
        if current is not None and current != self._manifest:
            raise ConcurrentCommitError(
                f"sink at {self.root!r} changed since load "
                f"({len(current.get('epochs', []))} committed epochs on storage vs "
                f"{len(self._manifest.get('epochs', []))} seen); reload and retry"
            )
        self._writer.commit(self._manifest_path(), manifest)
        self._manifest = manifest

    def committed_epochs(self) -> set[int]:
        return {e["epoch"] for e in self._manifest["epochs"]}

    # ----- merge ---------------------------------------------------------

    def _bucket_expr(self):
        return F.pmod(
            F.xxhash64(*[F.col(k) for k in self.bucket_cols]), F.lit(self.num_buckets)
        )

    # ----- table schema ----------------------------------------------------

    def _snapshot_schema(self, snap: dict) -> T.StructType | None:
        """Table schema of a snapshot: an epoch entry, or the manifest
        itself for the live state. ``None`` for a snapshot with no data
        files and no recorded schema. A snapshot without ``schema_id``
        predates recorded schemas: its schema comes from a ``mergeSchema``
        read of its footers, once per snapshot — the only footer read
        left on the sink's read path."""
        sid = snap.get("schema_id")
        if sid is not None:
            text = self._manifest["schemas"][int(sid)]
            if text not in self._parsed_schemas:
                self._parsed_schemas[text] = T.StructType.fromJson(json.loads(text))
            return self._parsed_schemas[text]
        rels = tuple(snap["buckets"].values()) + tuple(snap.get("deltas", []))
        if not rels:
            return None
        if rels not in self._footer_schemas:
            merged = self.spark.read.option("mergeSchema", "true").parquet(
                *[os.path.join(self.root, r) for r in rels]
            ).schema
            self._footer_schemas[rels] = self._table_schema(merged)
        return self._footer_schemas[rels]

    def _table_schema(self, written: T.StructType) -> T.StructType:
        """The table columns of a written frame's schema: without the
        layout columns (``_bucket``, ``_slice``) and the delta ``op_col``."""
        return _as_nullable(T.StructType([
            f for f in written.fields
            if f.name not in ("_bucket", "_slice", self.op_col)
        ]))

    def _delta_schema(self, schema: T.StructType) -> T.StructType:
        """Read schema of MOR delta files: the table schema plus ``op_col``."""
        return T.StructType(
            schema.fields + [T.StructField(self.op_col, T.StringType(), True)]
        )

    def _record_schema(
        self, manifest: dict, entry: dict | None,
        written: T.StructType | None = None, schema: T.StructType | None = None,
    ) -> None:
        """Set ``schema_id`` in ``manifest`` and in the epoch snapshot
        ``entry`` (if any) to the schema of the state being committed:
        ``schema`` when given, else the live schema widened by the
        ``written`` frame schema (``None`` = no data file written).
        Appends to ``schemas`` only a schema not recorded yet.
        Driver-only: a frame's schema is known before it is written, so
        recording it costs no Spark job."""
        if schema is None:
            schema = self._snapshot_schema(self._manifest)
            if written is not None:
                schema = _widen(schema, self._table_schema(written))
        if schema is None:  # nothing written to an empty table yet
            manifest.pop("schema_id", None)
            return
        text = schema.json()
        schemas = list(manifest.get("schemas", []))
        if text not in schemas:
            schemas.append(text)
        manifest["schemas"] = schemas
        manifest["schema_id"] = schemas.index(text)
        if entry is not None:
            entry["schema_id"] = manifest["schema_id"]

    def _read_files(self, rels: list[str], schema: T.StructType) -> DataFrame:
        """Parquet read of sink data dirs/files planned from ``schema``:
        no footer job, and columns a file lacks read as null."""
        return self.spark.read.schema(schema).parquet(
            *[os.path.join(self.root, r) for r in rels]
        )

    def _empty_frame(self, schema: T.StructType | None) -> DataFrame:
        if schema is None:
            raise ValueError("sink is empty — no committed buckets or deltas")
        # a zero limit plans as an empty local relation: no job to collect
        return self.spark.createDataFrame([], schema).limit(0)

    def meta(self) -> dict:
        """Engine metadata committed atomically with epochs (e.g. the
        schema registry snapshot) — the Iceberg snapshot-properties
        analogue. Survives crash/resume because it rides the manifest."""
        return dict(self._manifest.get("meta", {}))

    def merge(
        self, batch: DataFrame, epoch: int, lineage_cols: tuple[str, ...] = (),
        meta: dict | None = None,
    ) -> dict:
        """Apply one epoch's CDC events. Idempotent on ``epoch``.

        ``batch`` columns: keys + order_col + op_col + payload (+ optional
        kafka_partition/kafka_offset for lineage). ``meta`` entries are
        committed into the manifest atomically with the epoch.

        Merge-on-read appends the epoch's per-key winners (tombstones
        kept) as a delta: the table is never read, so epoch cost is
        O(batch) regardless of table size, and the stats/lineage pass
        overlaps the write on a second thread. Copy-on-write folds the
        batch into the buckets it touches, which the stats pass names
        first (it picks which base files to read, the pruning a real
        Iceberg MERGE gets from its partition spec). Lineage commits
        with the epoch's manifest entry.
        """
        if epoch in self.committed_epochs():
            return {"epoch": epoch, "skipped": True}
        batch_b = self._prepare(batch)
        stats = self._start_stats(batch_b, epoch)
        rel = unique_rel(f"data/e{epoch:06d}")
        if self.merge_mode == "mor":
            dirs, schema = self._write_buckets(
                batch_b, rel, self.num_buckets, self._lww
            )
            lineage, touched = stats()
            return self._commit_epoch(
                epoch, touched, lineage, schema if dirs else None, meta,
                new_deltas=sorted(dirs.values()),
            )
        lineage, touched = stats()
        buckets, written = self._fold(batch_b, touched, rel)
        return self._commit_epoch(
            epoch, touched, lineage, written, meta, buckets=buckets
        )

    # ----- the write core --------------------------------------------------

    def _prepare(self, batch: DataFrame) -> DataFrame:
        """``batch`` in sink column order (keys, order_col, op_col,
        payload, lineage columns) plus its ``_bucket``."""
        lineage = [c for c in _LINEAGE_COLS if c in batch.columns]
        payload = [
            c for c in batch.columns
            if c not in self.keys
            and c not in (self.order_col, self.op_col, *_LINEAGE_COLS)
        ]
        return batch.select(
            *self.keys, self.order_col, self.op_col, *payload, *lineage
        ).withColumn("_bucket", self._bucket_expr())

    def _start_stats(self, batch_b: DataFrame, epoch: int):
        """Start ``_stats_pass`` on a second thread, so its job overlaps
        the write (Spark schedules concurrent jobs from separate
        threads). Returns a function that waits for the pass and returns
        its result or re-raises its error."""
        box: dict = {}

        def run():
            try:
                box["result"] = self._stats_pass(batch_b, epoch)
            except Exception as e:  # noqa: BLE001 — re-raised by join()
                box["error"] = e

        # inherits the caller's local properties (job group, description),
        # so the pass's jobs are attributed to the write that started it
        thread = InheritableThread(target=run, daemon=True)
        thread.start()

        def join():
            thread.join()
            if "error" in box:
                raise box["error"]
            return box["result"]

        return join

    def _lww(self, df: DataFrame) -> DataFrame:
        """Last-writer-wins reduce: one row per key (grouped by
        ``(_bucket, *keys)`` when ``df`` carries ``_bucket``, so a frame
        already partitioned on ``_bucket`` reduces in place) with
        ``op_col`` kept — an op='d' winner is the tombstone that masks
        older versions. Lineage columns are dropped. Two-level (salted)
        under ``salted_merge``: the one place that choice is made."""
        by = (["_bucket"] if "_bucket" in df.columns else []) + self.keys
        payload = [
            c for c in df.columns
            if c not in by
            and c not in (self.order_col, self.op_col, *_LINEAGE_COLS)
        ] + [self.op_col]
        if self.salted_merge:
            return lww_latest_salted(df, by, self.order_col, payload, self.salt_buckets)
        return lww_latest(df, by, self.order_col, payload)

    def _latest(self, df: DataFrame) -> DataFrame:
        """``_lww`` with tombstones dropped: one live row per key."""
        return self._lww(df).filter(F.col(self.op_col) != self.delete_op).drop(
            self.op_col
        )

    def _write_buckets(
        self, frame: DataFrame, rel: str, n_parts: int | None, reduce=None
    ) -> tuple[dict[str, str], T.StructType]:
        """Write ``frame`` (with ``_bucket``) under the fresh ``rel`` (a
        ``unique_rel``) as one directory per bucket; return ``{bucket:
        dir}`` for the buckets written and the schema of the frame
        written. This is the write's one exchange: rows hash-partition
        on ``_bucket`` into ``min(n_parts, defaultParallelism)`` tasks,
        so all rows of a bucket meet in one task and ``reduce``
        (``_lww`` or ``_latest``) runs inside it with no shuffle of its
        own. Each task writes one file into every bucket dir it holds
        (key-sorted under ``sort_within_buckets``). A Z-order frame
        (``n_parts=None``) comes laid out already and carries
        ``_slice``: one file per slice, flattened into its bucket dir."""
        out = os.path.join(self.root, rel)
        slices = ["_slice"] if n_parts is None else []
        if n_parts is not None:
            tasks = min(n_parts, self.spark.sparkContext.defaultParallelism)
            frame = frame.repartition(tasks, "_bucket")
            if reduce is not None:
                frame = reduce(frame)
            if self.sort_within_buckets:
                frame = frame.sortWithinPartitions("_bucket", *self.keys)
        frame.write.partitionBy("_bucket", *slices).parquet(out)
        if slices:
            self._flatten_slice_dirs(out)
        return {
            d.split("=", 1)[1]: f"{rel}/{d}"
            for d in os.listdir(out)
            if d.startswith("_bucket=")
        }, frame.schema

    def _fold(
        self, delta: DataFrame, buckets: list, rel: str
    ) -> tuple[dict[str, str], T.StructType | None]:
        """Rewrite ``buckets`` under ``rel`` as their live base rows ∪
        ``delta`` (LWW, tombstones dropped) — the copy-on-write commit
        and the compaction rewrite are this one operation. Returns the
        new live bucket map (a bucket whose rows were all deleted leaves
        it; other buckets keep their files) and the schema of the frame
        written (``None`` when no file was)."""
        live = dict(self._manifest["buckets"])
        if not buckets:
            return live, None
        names = [str(b) for b in buckets]
        rows = self._union_rows(
            [live.pop(b) for b in names if b in live], delta.drop("_bucket"),
            self._snapshot_schema(self._manifest),
        ).withColumn("_bucket", self._bucket_expr())
        written, schema = self._write_buckets(rows, rel, len(names), self._latest)
        live.update(written)
        return live, schema if written else None

    def _commit_epoch(
        self, epoch: int, touched: list, lineage: list[dict],
        written: T.StructType | None, meta: dict | None,
        buckets: dict[str, str] | None = None, new_deltas: tuple | list = (),
        published: bool = False,
    ) -> dict:
        """Commit one epoch snapshot through the manifest CAS. Where the
        epoch landed: ``buckets``, the bucket map after a copy-on-write
        fold (default: unchanged), and ``new_deltas``, the delta dirs a
        merge-on-read epoch appends. ``written`` (the schema of the frame
        written, ``None`` when no file was) widens the table schema;
        ``meta`` merges into the manifest's meta; a ``published`` epoch
        loses its staged entry. Returns the epoch entry. A merge-on-read
        commit then runs the auto-compaction trigger."""
        entry = {
            "epoch": epoch,
            "touched_buckets": len(touched),
            "lineage": lineage,
            "buckets": dict(self._manifest["buckets"]) if buckets is None else buckets,
            # the bucket count THIS snapshot's layout was written under —
            # a later rebucket() changes self.num_buckets, and changelog
            # bucket pruning must probe with the snapshot's own count
            "num_buckets": self.num_buckets,
        }
        manifest = dict(self._manifest)
        manifest["buckets"] = entry["buckets"]
        if self.merge_mode == "mor":
            entry["deltas"] = list(self._manifest.get("deltas", [])) + list(new_deltas)
            manifest["deltas"] = entry["deltas"]
        self._record_schema(manifest, entry, written)
        manifest["epochs"] = manifest["epochs"] + [entry]
        if meta:
            manifest["meta"] = {**manifest.get("meta", {}), **meta}
        if published:
            staged = dict(manifest.get("staged", {}))
            staged.pop(str(epoch), None)
            manifest["staged"] = staged
        self._commit_manifest(manifest)
        if self.merge_mode == "mor" and self.compact_every is not None:
            n_delta_epochs = len({r.split("/")[1] for r in manifest["deltas"]})
            if n_delta_epochs >= self.compact_every:
                # after the epoch commit (never instead of it): a crash
                # here just leaves the deltas pending for the next trigger
                return {**entry, "auto_compact": self.compact()}
        return entry

    def _stats_pass(
        self, batch_b: DataFrame, epoch: int
    ) -> tuple[list[dict], list[int]]:
        """One aggregation job: lineage rows per source partition plus the
        set of touched buckets (collect_set is tiny: <= num_buckets). A
        batch without ``kafka_partition`` yields one row with a null
        partition: ``history()`` counts it, ``read_lineage()`` skips it."""
        has_lineage = "kafka_partition" in batch_b.columns
        part = F.col("kafka_partition") if has_lineage else F.lit(None).cast("int")
        rows = (
            batch_b.groupBy(part.alias("kafka_partition"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                (F.min("kafka_offset") if has_lineage else F.lit(None).cast("long")).alias("min_offset"),
                (F.max("kafka_offset") if has_lineage else F.lit(None).cast("long")).alias("max_offset"),
                F.max(self.order_col).alias("max_lsn"),
                F.collect_set("_bucket").alias("_buckets"),
            )
            .withColumn("epoch", F.lit(epoch))
            .collect()
        )
        touched = sorted({b for r in rows for b in r["_buckets"]})
        return [{k: r[k] for k in _LINEAGE_FIELDS} for r in rows], touched

    # ----- read ----------------------------------------------------------

    def _merged_view(
        self,
        base_rels: list[str],
        delta_rels: list[str],
        schema: T.StructType | None,
        pre_filter=None,
    ) -> DataFrame:
        """Base ∪ deltas -> one live row per key (MOR read path). Both
        sides are read under the snapshot's table ``schema``, so planning
        opens no footer."""
        if not base_rels and not delta_rels:
            raise ValueError("sink is empty — no committed buckets or deltas")
        delta = (
            self._read_files(delta_rels, self._delta_schema(schema))
            if delta_rels else None
        )
        return self._live_rows(base_rels, delta, schema, pre_filter)

    def _union_rows(
        self, base_rels: list[str], delta: DataFrame | None,
        schema: T.StructType | None,
    ) -> DataFrame:
        """Base files (read under ``schema``, implicit op='u') ∪ ``delta``
        rows, unreduced; columns only one side carries read as null on
        the other."""
        if not base_rels:
            return delta
        base = self._read_files(base_rels, schema).withColumn(
            self.op_col, F.lit("u")
        )
        return base if delta is None else base.unionByName(
            delta, allowMissingColumns=True
        )

    def _live_rows(
        self,
        base_rels: list[str],
        delta: DataFrame | None,
        schema: T.StructType | None,
        pre_filter=None,
    ) -> DataFrame:
        """Base files ∪ ``delta`` rows -> one live row per key: LWW by
        ``order_col`` across base rows (implicit op='u') and delta rows
        (op kept, op='d' winners mask the key), then drop tombstones.
        ``pre_filter`` (a Column) is applied BEFORE the LWW reduce — only
        sound for predicates on columns immutable across a key's versions
        (the merge keys), where dropping rows cannot flip a winner; it
        exists so ``read_where`` shuffles only matching keys."""
        df = self._union_rows(base_rels, delta, schema)
        if pre_filter is not None:
            df = df.filter(pre_filter)
        if delta is None:
            return df.drop(self.op_col)  # pure base: already one row per key
        return self._latest(df)

    def _snapshot_view(self, snap: dict) -> DataFrame:
        """Live rows of a snapshot (an epoch entry, or the manifest)."""
        return self._merged_view(
            list(snap["buckets"].values()), list(snap.get("deltas", [])),
            self._snapshot_schema(snap),
        )

    def read(self) -> DataFrame:
        return self._snapshot_view(self._manifest)

    def _bucket_lookup(
        self, cols: list[str], values: tuple, as_of: int | str | None
    ) -> DataFrame:
        """Shared single-bucket lookup core for ``read_key``/``read_prefix``,
        optionally against a committed snapshot (``as_of``). CRITICAL for
        time travel: the probe hashes with the SNAPSHOT's own recorded
        bucket count — a ``rebucket()`` (or a ``restore`` across one)
        committed after that epoch changes the live count while the
        snapshot's layout keeps the count it was written under; probing
        with the live count would read the wrong bucket directory and
        silently return no rows (the same trap the MOR changelog's
        candidate pruning guards against)."""
        as_of = self._resolve_epoch(as_of)
        snap = self._manifest if as_of is None else self._snapshot(as_of)
        snap_buckets = snap["buckets"]
        snap_deltas = snap.get("deltas", [])
        snap_nb = int(snap.get("num_buckets", self.num_buckets))
        schema = self._snapshot_schema(snap)
        # stored dtype of each key: xxhash64 is TYPE-sensitive — lit(5) is
        # an int32 and hashes to a different bucket than a bigint column
        # holding 5 — so lookup literals are cast to the stored type
        ktypes = {f.name: f.dataType for f in schema.fields} if schema else {}

        def _klit(k, v):
            lit = F.lit(v)
            return lit.cast(ktypes[k]) if k in ktypes else lit

        # the probe is a constant expression: folded on the driver, no job
        lits = {k: _klit(k, v) for k, v in zip(cols, values)}
        bucket = str(fold_on_driver(self.spark, F.pmod(
            F.xxhash64(*[lits[k] for k in self.bucket_cols]), F.lit(snap_nb)
        ))[0])
        base = snap_buckets.get(bucket)
        deltas = [
            rel for rel in snap_deltas if rel.endswith(f"_bucket={bucket}")
        ]
        if base is None and not deltas:
            return self._empty_frame(schema)
        rels = ([base] if base else []) + deltas
        if as_of is not None:
            self._require_rels(rels)  # vacuumed snapshot → clear error
        base_rels, delta_rels = ([base] if base else []), deltas
        stats = self._read_stats()
        if stats["minmax"] or stats["bloom"]:
            # within-bucket file skipping: the lookup columns are merge
            # keys (read_prefix's bucket_cols ⊆ keys), and key-equality
            # evidence legally prunes ANY file, deltas included — key
            # values are immutable across a row's versions and delete
            # tombstones carry their key columns, so a file whose stats
            # exclude the value holds no version of it. Pays off when
            # compaction cut each bucket into several files
            # (files_per_bucket > 1): analyze()d point lookups read only
            # the files that can hold the key. Exact filter still
            # applies below; unanalyzed files are kept.
            preds = {k: (v, v) for k, v in zip(cols, values)}
            tuple_name = _bloom_entry_name(tuple(cols)) if len(cols) > 1 else None

            def _keep_file(path: str) -> bool:
                if not self._stats_keep(stats, path, preds):
                    return False
                if tuple_name:
                    # composite bloom: the evidence that prunes when each
                    # member column alone is common to every file
                    entry = (stats["bloom"].get(path) or {}).get(tuple_name)
                    if entry and not _bloom_tuple_maybe_contains(
                        entry, tuple(values)
                    ):
                        return False
                return True

            def _prune(dir_rels: list[str]) -> list[str]:
                out = []
                for rel in dir_rels:
                    d = os.path.join(self.root, rel)
                    for fn in sorted(os.listdir(d)):
                        if fn.endswith(".parquet") and _keep_file(
                            f"{rel}/{fn}"
                        ):
                            out.append(f"{rel}/{fn}")
                return out

            base_rels, delta_rels = _prune(base_rels), _prune(delta_rels)
            if not base_rels and not delta_rels:
                return self._empty_frame(schema)
        df = self._merged_view(base_rels, delta_rels, schema)
        cond = None
        for k, v in zip(cols, values):
            eq = F.col(k) == _klit(k, v)
            cond = eq if cond is None else (cond & eq)
        return df.filter(cond)

    def read_key(self, *key_values, as_of: int | None = None) -> DataFrame:
        """Point lookup: the live row(s) for one key, reading ONLY the
        key's bucket — `pmod(xxhash64(key), num_buckets)` names the single
        bucket directory that can hold it, so the scan touches 1/num_buckets
        of the table (plus that bucket's pending deltas in MOR mode), and
        with ``sort_within_buckets`` parquet row-group min/max stats skip
        inside the file too, and on an ``analyze()``d table the recorded
        per-file min/max + Bloom evidence skips files WITHIN the bucket
        (the multi-file-bucket case ``compact(files_per_bucket=k)``
        creates). The O(1)-ish key fetch a 10^10-row table needs;
        equivalent to ``read().filter(keys = values)``.

        ``as_of`` performs the same single-bucket lookup against a
        committed snapshot (time-travel point read, e.g. "what was this
        key before the rollback") — equivalent to
        ``read_as_of(e).filter(...)`` at 1/num_buckets of the cost; the
        probe uses the snapshot's own recorded bucket count, so lookups
        across a later ``rebucket()``/``restore`` stay correct."""
        if len(key_values) != len(self.keys):
            raise ValueError(f"expected {len(self.keys)} key values ({self.keys})")
        return self._bucket_lookup(self.keys, key_values, as_of)

    def read_prefix(self, *prefix_values, as_of: int | None = None) -> DataFrame:
        """Prefix lookup (needs ``bucket_cols`` ⊂ keys at creation): all
        live rows whose ``bucket_cols`` equal ``prefix_values`` — e.g.
        every path of one repo when keys=(repo, path), bucket_cols=
        (repo,). Sound single-bucket pruning: the bucket hash binds ONLY
        bucket_cols, so every key sharing the prefix (and every version
        of it, base or delta) lives in exactly one bucket directory; the
        scan touches 1/num_buckets of the table, then the exact equality
        filter applies post-merge. Equivalent to
        ``read().filter(bucket_cols = prefix_values)``; ``as_of`` gives
        the snapshot-time variant (see ``read_key``)."""
        if len(prefix_values) != len(self.bucket_cols):
            raise ValueError(
                f"expected {len(self.bucket_cols)} values for bucket_cols="
                f"{self.bucket_cols}, got {len(prefix_values)}"
            )
        return self._bucket_lookup(self.bucket_cols, prefix_values, as_of)

    def read_as_of(self, epoch: int | str) -> DataFrame:
        """Time travel: table state as of a committed epoch (the epoch's
        bucket-map + delta-list snapshot is recorded in the manifest at
        commit time — the Iceberg snapshot-read analogue). Valid until
        ``vacuum``. A tag name (see ``tag()``) is accepted wherever an
        epoch id is — the ``VERSION AS OF 'tag'`` surface."""
        epoch = self._resolve_epoch(epoch)
        if epoch is None:
            raise ValueError("epoch None is not committed")
        return self._snapshot_view(self._snapshot(epoch))

    # ----- named snapshot refs (tags) ------------------------------------

    def _resolve_epoch(self, ref: int | str | None) -> int | None:
        """Epoch id pass-through, or tag-name -> epoch id resolution —
        every snapshot-naming surface (``read_as_of``, ``read_changes``,
        ``restore``, ``read_key``/``read_prefix`` ``as_of``) accepts
        either."""
        if ref is None or (isinstance(ref, int) and not isinstance(ref, bool)):
            return ref
        if isinstance(ref, str):
            tags = self._manifest.get("tags", {})
            if ref not in tags:
                raise ValueError(f"unknown tag {ref!r} (tags: {sorted(tags)})")
            return int(tags[ref])
        raise TypeError(f"epoch ref must be an int or tag name, got {ref!r}")

    def tags(self) -> dict[str, int]:
        """Live named refs: ``{tag name: epoch id}``."""
        return {n: int(e) for n, e in self._manifest.get("tags", {}).items()}

    def tag(
        self, name: str, epoch: int | str | None = None, replace: bool = False
    ) -> dict:
        """Name a committed snapshot (the Iceberg TAG ref analogue —
        ``ALTER TABLE ... CREATE TAG``): audit marks, release pins,
        reproducible-training-set pins. A tag name is accepted wherever
        an epoch id is (``read_as_of``, ``restore``, ``read_changes``,
        ``read_key(as_of=...)``) and — the operational point —
        ``vacuum()`` PROTECTS tagged snapshots' files, so a pinned
        state stays readable under any retention setting until the tag
        is dropped. Metadata-only (one manifest CAS). Default ``epoch``:
        the latest committed one. Re-tagging the same epoch is an
        idempotent no-op; moving a tag requires ``replace=True``."""
        if not isinstance(name, str) or not name:
            raise ValueError("tag name must be a non-empty string")
        epoch = self._resolve_epoch(epoch)
        if epoch is None:
            epoch = max(
                (e["epoch"] for e in self._manifest["epochs"]), default=None
            )
            if epoch is None:
                raise ValueError("cannot tag an empty table (no committed epochs)")
        snap = self._snapshot(epoch)  # refuses uncommitted epochs
        self._require_rels(
            list(snap["buckets"].values()) + list(snap.get("deltas", []))
        )
        tags = dict(self._manifest.get("tags", {}))
        if name in tags:
            if int(tags[name]) == epoch:
                return {"tag": name, "epoch": epoch, "skipped": True}
            if not replace:
                raise ValueError(
                    f"tag {name!r} already points at epoch {tags[name]} "
                    "(pass replace=True to move it)"
                )
        tags[name] = int(epoch)
        manifest = dict(self._manifest)
        manifest["tags"] = tags
        manifest["maintenance"] = manifest.get("maintenance", []) + [
            {"op": "tag", "name": name, "epoch": int(epoch)}
        ]
        self._commit_manifest(manifest)
        return {"tag": name, "epoch": int(epoch), "skipped": False}

    def drop_tag(self, name: str) -> dict:
        """Remove a named ref; its snapshot becomes vacuum-eligible like
        any other."""
        tags = dict(self._manifest.get("tags", {}))
        if name not in tags:
            raise ValueError(f"unknown tag {name!r} (tags: {sorted(tags)})")
        epoch = int(tags.pop(name))
        manifest = dict(self._manifest)
        manifest["tags"] = tags
        manifest["maintenance"] = manifest.get("maintenance", []) + [
            {"op": "drop_tag", "name": name, "epoch": epoch}
        ]
        self._commit_manifest(manifest)
        return {"tag": name, "epoch": epoch, "dropped": True}

    def restore(self, to_epoch: int | str, as_epoch: int) -> dict:
        """Roll the table back to a committed snapshot's state (Delta
        ``RESTORE TABLE ... VERSION AS OF`` / Iceberg
        ``rollback_to_snapshot`` analogue), committed as a NEW snapshot
        ``as_epoch``. ``to_epoch`` accepts a tag name (``tag()``). History is append-only: the rolled-back epochs stay
        in ``history()`` for audit and remain time-travel readable until
        ``vacuum``. Metadata-only, O(1) data: the new snapshot points at
        the restored epoch's EXISTING bucket/delta files — no row is read
        or written, so restoring a 10^10-row table costs one manifest CAS.

        ``as_epoch`` must exceed every committed epoch id (changelog
        epoch ranges stay monotone); idempotent on ``as_epoch`` like
        ``merge``, so a redelivered restore is a committed no-op.

        Changelog semantics compose without special cases because a
        snapshot's state is a pure function of its (base, deltas):
        ``read_changes(from_epoch=bad, to_epoch=as_epoch)`` emits the
        exact REVERTING changes — the COW path diffs the bucket maps; the
        MOR fast path's structural guards (delta-subset + bucket-map
        equality) detect the rollback and fall back to the snapshot diff
        — and a range that starts at-or-after the restore re-enters the
        O(changed) delta fast path. Downstream derived state (the
        N20-N23 views/indexes) therefore rolls back by plain refresh.

        If the target snapshot was written under a different bucket count
        (a ``rebucket()`` landed after it), the count is restored with
        it, keeping the live layout and ``_bucket_expr`` consistent; a
        WAP epoch staged under the pre-restore layout then refuses at
        ``publish`` (stale bucket hash) exactly as across a rebucket.
        """
        to_epoch = self._resolve_epoch(to_epoch)
        if as_epoch in self.committed_epochs():
            return {"epoch": as_epoch, "skipped": True}
        max_epoch = max(
            (e["epoch"] for e in self._manifest["epochs"]), default=None
        )
        if max_epoch is not None and as_epoch <= max_epoch:
            raise ValueError(
                f"as_epoch={as_epoch} must exceed every committed epoch "
                f"(max committed: {max_epoch}) — changelog ranges are "
                "keyed on monotone epoch ids"
            )
        snap = self._snapshot(to_epoch)
        rels = list(snap["buckets"].values()) + list(snap.get("deltas", []))
        try:
            self._require_rels(rels)
        except ValueError:
            vac = self._manifest.get("vacuumed_below")
            if vac is not None and to_epoch < vac:
                raise ValueError(
                    f"epoch {to_epoch} lost time travel to vacuum() "
                    f"(vacuumed below {vac}) — its snapshot files are gone"
                )
            raise
        snap_nb = int(snap.get("num_buckets", self.num_buckets))
        entry = {
            "epoch": as_epoch,
            "touched_buckets": 0,
            "lineage": [],
            "buckets": dict(snap["buckets"]),
            "deltas": list(snap.get("deltas", [])),
            "num_buckets": snap_nb,
            "restore_of": to_epoch,
        }
        manifest = dict(self._manifest)
        manifest["buckets"] = dict(snap["buckets"])
        manifest["deltas"] = list(snap.get("deltas", []))
        manifest["num_buckets"] = snap_nb
        self._record_schema(manifest, entry, schema=self._snapshot_schema(snap))
        manifest["epochs"] = manifest["epochs"] + [entry]
        manifest["maintenance"] = manifest.get("maintenance", []) + [
            {"op": "restore", "of_epoch": to_epoch, "as_epoch": as_epoch}
        ]
        self._commit_manifest(manifest)
        self.num_buckets = snap_nb
        return {
            "epoch": as_epoch,
            "restored_to": to_epoch,
            "num_buckets": snap_nb,
            "base_files": len(entry["buckets"]),
            "delta_dirs": len(entry["deltas"]),
        }

    def compact(
        self,
        zorder: list[str] | None = None,
        files_per_bucket: int = 1,
    ) -> dict:
        """Fold pending MOR deltas into the base (the Iceberg
        rewrite_data_files / Delta OPTIMIZE analogue): the same fold a
        copy-on-write epoch commits, over the pending deltas, committed
        through the same manifest CAS. Only buckets with pending deltas
        are rewritten; every other bucket keeps its base files. Readers
        see the old (base, deltas) snapshot until the commit; prior epoch
        snapshots keep their delta paths (time travel intact until
        vacuum). After compaction reads are plain scans again.

        ``zorder=[cols]`` instead rewrites EVERY bucket, clustered along
        a Morton (Z-order) curve over the named columns — the Delta
        ``OPTIMIZE ZORDER BY`` / Iceberg ``rewrite_data_files(zorder)``
        analogue — and splits every bucket into ``files_per_bucket``
        equal-count files cut along the curve. Each file then covers a
        TIGHT range on EVERY zorder column simultaneously, so
        ``analyze()`` + ``read_where`` skip files on any of them (a
        single-column sort makes one column prunable and scatters the
        rest). Z-ordering a base rewrite is also valid with NO pending
        deltas (a pure re-cluster), including on COW tables. Cost: one
        per-bucket window (rank along the curve) on top of the plain
        compaction shuffle — buckets sort independently, so parallelism
        is num_buckets exactly as in the plain path. The curve value is
        16 bits per column, pure JVM bit arithmetic (no UDF); column
        min/max for scaling come from one aggregation job."""
        deltas = list(self._manifest.get("deltas", []))
        if not deltas and (zorder is None or not self._manifest["buckets"]):
            return {"compacted": False, "deltas_folded": 0}
        if files_per_bucket < 1:
            raise ValueError(f"files_per_bucket must be >= 1, got {files_per_bucket}")
        rel_dir = unique_rel(f"data/c{len(self._manifest.get('maintenance', [])):06d}")
        if zorder is None:
            buckets, written = self._fold(
                self._read_files(
                    deltas, self._delta_schema(self._snapshot_schema(self._manifest))
                ),
                sorted({r.rsplit("_bucket=", 1)[1] for r in deltas}),
                rel_dir,
            )
        else:
            frame = self._zorder_clustered(self.read(), zorder, files_per_bucket)
            buckets, schema = self._write_buckets(frame, rel_dir, None)
            written = schema if buckets else None
        manifest = dict(self._manifest)
        manifest["buckets"] = buckets
        manifest["deltas"] = []
        self._record_schema(manifest, None, written)
        maint = {"op": "compact", "deltas_folded": len(deltas), "dir": rel_dir}
        if zorder is not None:
            maint["zorder"] = list(zorder)
            maint["files_per_bucket"] = files_per_bucket
        manifest["maintenance"] = manifest.get("maintenance", []) + [maint]
        self._commit_manifest(manifest)
        return {"compacted": True, "deltas_folded": len(deltas),
                "buckets_written": sum(
                    r.startswith(f"{rel_dir}/") for r in buckets.values()
                )}

    @staticmethod
    def _flatten_slice_dirs(out_dir: str) -> None:
        """Move ``_bucket=N/_slice=K/part-*.parquet`` up to
        ``_bucket=N/zK-part-*.parquet`` so the bucket map and file
        listing keep their flat one-level layout."""
        for bdir in os.listdir(out_dir):
            if not bdir.startswith("_bucket="):
                continue
            bpath = os.path.join(out_dir, bdir)
            for sdir in sorted(os.listdir(bpath)):
                if not sdir.startswith("_slice="):
                    continue
                spath = os.path.join(bpath, sdir)
                k = int(sdir.split("=", 1)[1])
                for fn in sorted(os.listdir(spath)):
                    if fn.endswith(".parquet"):
                        os.replace(
                            os.path.join(spath, fn),
                            os.path.join(bpath, f"z{k:05d}-{fn}"),
                        )
                shutil.rmtree(spath)

    def _zorder_clustered(
        self, current: DataFrame, zorder: list[str], files_per_bucket: int
    ) -> DataFrame:
        """``current`` bucketed and re-clustered along the Z-order curve:
        per-bucket rank over the Morton value cuts ``files_per_bucket``
        equal-count slices, rows hash-repartition on (bucket, slice) so
        every slice lands contiguously in one task (deterministic — no
        sampling), and an in-task sort leaves each written file a
        contiguous curve segment."""
        from pyspark.sql import Window

        if not zorder:
            raise ValueError("zorder needs at least one column")
        missing = [c for c in zorder if c not in current.columns]
        if missing:
            raise ValueError(
                f"zorder columns {missing} not in table columns {current.columns}"
            )
        dtypes = {f.name: f.dataType for f in current.schema.fields}
        raw = {c: _z_scaled_raw(c, dtypes[c]) for c in zorder}
        # one job: global min/max per zorder column (nulls ignored)
        bounds = current.agg(
            *[F.min(raw[c]).alias(f"_lo_{i}") for i, c in enumerate(zorder)],
            *[F.max(raw[c]).alias(f"_hi_{i}") for i, c in enumerate(zorder)],
        ).collect()[0]
        top = (1 << _Z_BITS) - 1
        scaled = []
        for i, c in enumerate(zorder):
            lo, hi = bounds[f"_lo_{i}"], bounds[f"_hi_{i}"]
            if lo is None or hi is None or hi <= lo:  # constant/all-null lane
                scaled.append(F.lit(0).cast("long"))
                continue
            s = F.floor((raw[c] - F.lit(float(lo))) * top / F.lit(float(hi - lo)))
            s = F.least(F.greatest(s, F.lit(0)), F.lit(top))
            scaled.append(F.coalesce(s, F.lit(0)).cast("long"))  # nulls first
        out_cols = current.columns
        w_rank = Window.partitionBy("_bucket").orderBy("_z", *self.keys)
        w_cnt = Window.partitionBy("_bucket")
        df = (
            current.withColumn("_bucket", self._bucket_expr())
            .withColumn("_z", _z_interleave(scaled))
            .withColumn(
                "_slice",
                F.floor(
                    (F.row_number().over(w_rank) - 1)
                    * files_per_bucket
                    / F.count(F.lit(1)).over(w_cnt)
                ).cast("int"),
            )
        )
        return (
            df.repartition(self.num_buckets * files_per_bucket, "_bucket", "_slice")
            .sortWithinPartitions("_bucket", "_slice", "_z")
            .select(*out_cols, "_bucket", "_slice")
        )

    def vacuum(self, keep_epochs: int = 0, dry_run: bool = False) -> list[str]:
        """Delete every ``_bucket=`` dir under ``data/`` (and the legacy
        ``staged/``) that nothing names: not the live state, the last
        ``keep_epochs`` epoch snapshots, a tagged snapshot or a staged
        epoch. That covers superseded copy-on-write and compacted files,
        discarded or published staged deltas, and the dirs of attempts
        that crashed or lost the manifest swap. A write dir left with no
        named bucket goes as a whole. Returns the removed bucket dirs.
        Storage hygiene at scale: without vacuum, COW keeps every epoch's
        full rewrite forever. Snapshots named by a live ``tag()`` are
        PROTECTED regardless of ``keep_epochs`` — a pinned state stays
        time-travel readable until its tag is dropped (the Iceberg
        ref-retention rule). ``dry_run=True`` returns what WOULD be
        removed without touching disk or manifest (the Delta
        ``VACUUM ... DRY RUN`` analogue)."""
        m = self._manifest
        tagged = {int(e) for e in m.get("tags", {}).values()}
        kept = m["epochs"][-keep_epochs:] if keep_epochs else []
        snaps = [m, *kept, *(e for e in m["epochs"] if e["epoch"] in tagged)]
        keep = {r for s in snaps for r in s["buckets"].values()}
        keep.update(r for s in snaps for r in s.get("deltas", []))
        keep.update(r for s in m.get("staged", {}).values() for r in s["delta_rels"])
        removed = []
        for area in ("data", "staged"):
            area_dir = os.path.join(self.root, area)
            for d in sorted(os.listdir(area_dir)) if os.path.isdir(area_dir) else []:
                write_dir = os.path.join(area_dir, d)
                buckets = [
                    f"{area}/{d}/{b}" for b in sorted(os.listdir(write_dir))
                    if b.startswith("_bucket=")
                ]
                dead = [rel for rel in buckets if rel not in keep]
                removed += dead
                if dry_run:
                    continue
                if len(dead) == len(buckets):
                    shutil.rmtree(write_dir)
                else:
                    for rel in dead:
                        shutil.rmtree(os.path.join(self.root, rel))
        if dry_run:
            return removed
        # epochs whose snapshots were vacuumed lose time travel; record
        # the oldest kept snapshot's id (ids have gaps after a restore or
        # an offset replay, so it is not max - keep_epochs + 1)
        manifest = dict(self._manifest)
        kept = manifest["epochs"][-(keep_epochs or 1):]
        manifest["vacuumed_below"] = kept[0]["epoch"] if kept else -1
        self._commit_manifest(manifest)
        return removed

    def read_lineage(self) -> DataFrame:
        """One row per (committed epoch, source partition) whose batch
        carried ``kafka_partition``: event count, offset range and max
        LSN, built on the driver from the rows each epoch entry holds."""
        rows = [
            tuple(r[c] for c in _LINEAGE_FIELDS)
            for e in self._manifest["epochs"] for r in e.get("lineage", [])
            if r["kafka_partition"] is not None
        ]
        return self.spark.createDataFrame(
            rows, ", ".join(f"{c} bigint" for c in _LINEAGE_FIELDS)
        )

    # ----- write-audit-publish (staged epochs) ---------------------------
    #
    # The Iceberg WAP pattern (wap.id / branch-audit-publish) as a CDC
    # quality gate: ``stage()`` writes an epoch's LWW-reduced delta WITHOUT
    # making it visible to any reader (read/read_as_of/read_changes/
    # history all ignore staged entries); ``audit_staged()`` runs
    # declarative expectations against the staged rows and the CANDIDATE
    # table state; ``publish()`` flips visibility atomically through the
    # same manifest CAS every other commit uses (O(1) metadata in MOR
    # mode — the staged ``data/s…`` delta dirs are committed where they
    # lie); ``discard()`` drops a failed epoch without trace (lineage
    # commits only with the epoch; ``vacuum`` removes the unnamed dirs).
    # Generalizes the reference's fail-fast admission (JC:508-549 schema
    # gate) from per-record to per-epoch.

    def staged_epochs(self) -> set[int]:
        return {int(e) for e in self._manifest.get("staged", {})}

    def _staged_entry(self, epoch: int) -> dict:
        entry = self._manifest.get("staged", {}).get(str(epoch))
        if entry is None:
            raise ValueError(
                f"epoch {epoch} is not staged on sink at {self.root!r} "
                f"(staged: {sorted(self.staged_epochs())})"
            )
        return entry

    def stage(
        self,
        batch: DataFrame,
        epoch: int,
        meta: dict | None = None,
        branch: str | None = None,
    ) -> dict:
        """Write one epoch's CDC events into the invisible staging area.

        Same batch contract as ``merge()``; idempotent on ``epoch``
        (already-committed and already-staged epochs are skipped no-ops,
        so at-least-once redelivery is safe). The batch is LWW-reduced
        within itself (one version per key, deletes kept as tombstone
        markers — the MOR delta shape, valid for BOTH sink modes) and
        written under a fresh ``data/s{epoch}-…`` dir; the staged entry
        — including its lineage stats and any ``meta`` — rides the
        manifest so staging survives crash/restart, but NO reader sees it
        until ``publish``.

        ``branch`` labels the staged epoch as part of a named multi-epoch
        chain (the Iceberg audit-BRANCH analogue): stack several epochs
        on one branch, query the chain's candidate state with
        ``read_branch``, audit it with ``audit_branch``, then land it
        atomically-per-epoch with ``fast_forward`` (or drop it with
        ``discard_branch``). Sound because every staged delta is
        LWW-reduced and LWW is order-insensitive on ``order_col``: the
        chain's merged state equals publishing its epochs in any order.
        """
        if branch is not None and (not isinstance(branch, str) or not branch):
            raise ValueError("branch must be a non-empty string")
        if epoch in self.committed_epochs():
            return {"epoch": epoch, "skipped": True, "reason": "already committed"}
        if epoch in self.staged_epochs():
            return {"epoch": epoch, "skipped": True, "reason": "already staged"}
        batch_b = self._prepare(batch)
        stats = self._start_stats(batch_b, epoch)
        written, schema = self._write_buckets(
            batch_b, unique_rel(f"data/s{epoch:06d}"), self.num_buckets, self._lww
        )
        lineage_stats, touched = stats()
        entry = {
            "epoch": epoch,
            "touched": touched,
            "lineage": lineage_stats,
            "delta_rels": sorted(written.values()),
            # staged schema: an EMPTY epoch writes no part files, so the
            # delta frame must be reconstructible from metadata alone
            "schema": schema.json(),
            # the bucket count the staged layout was written under:
            # publish refuses if a rebucket() intervened
            "num_buckets": self.num_buckets,
            "meta": meta or {},
        }
        if branch is not None:
            entry["branch"] = branch
        manifest = dict(self._manifest)
        staged = dict(manifest.get("staged", {}))
        staged[str(epoch)] = entry
        manifest["staged"] = staged
        self._commit_manifest(manifest)
        return {"epoch": epoch, "staged": True, "touched_buckets": len(touched)}

    def read_staged_delta(self, epoch: int) -> DataFrame:
        """The staged epoch's LWW-reduced rows, tombstone markers included
        (``op_col`` == ``delete_op``) — the audit surface for delta-level
        expectations. An EMPTY staged epoch (a quiet LSN window) returns
        an empty frame with the recorded schema."""
        entry = self._staged_entry(epoch)
        schema = self._staged_delta_schema(entry)
        if not entry["delta_rels"]:
            return self.spark.createDataFrame([], schema).drop("_bucket")
        # one read of the write dir: its bucket dirs are all the epoch's
        write_dir = entry["delta_rels"][0].rsplit("/", 1)[0]
        return self._read_files([write_dir], schema).drop("_bucket")

    @staticmethod
    def _staged_delta_schema(entry: dict) -> T.StructType:
        """Schema of a staged delta as written (``_bucket`` and
        ``op_col`` included), recorded in its staged entry."""
        return T.StructType.fromJson(json.loads(entry["schema"]))

    def _staged_view(self, epochs: list[int]) -> DataFrame:
        """Candidate state with the staged ``epochs`` published: live base
        + pending deltas + their staged deltas, under the live schema
        widened by every staged delta that wrote files."""
        schema = self._snapshot_schema(self._manifest)
        rels: list[str] = []
        for e in epochs:
            entry = self._staged_entry(e)
            if entry["delta_rels"]:
                schema = _widen(
                    schema, self._table_schema(self._staged_delta_schema(entry))
                )
                rels.extend(entry["delta_rels"])
        return self._merged_view(
            list(self._manifest["buckets"].values()),
            list(self._manifest.get("deltas", [])) + rels,
            schema,
        )

    def read_staged(self, epoch: int) -> DataFrame:
        """The CANDIDATE table state: what ``read()`` would return if the
        staged epoch were published right now. Audits run real queries
        against this without any visibility side effect."""
        return self._staged_view([epoch])

    def audit_staged(self, epoch: int, expectations: dict) -> dict:
        """Run declarative expectations against a staged epoch. Keys:

        - ``min_rows`` / ``max_rows``: bounds on the staged epoch's live
          (non-delete) row count.
        - ``max_delete_fraction``: tombstones / total staged rows.
        - ``not_null``: list of columns that must be non-null on every
          live staged row.
        - ``expect``: {name: sql_bool_expr} — must hold (non-null true)
          on every live staged row.
        - ``expect_state``: {name: sql_bool_expr} — must hold on every
          row of the CANDIDATE state (base + deltas + staged), for
          invariants that only make sense post-merge (e.g. monotone
          aggregate bounds).

        One aggregation job over the staged delta (+ one over the
        candidate state iff ``expect_state`` is given). Returns a report;
        never mutates the sink."""
        checks = self._run_expectations(
            self.read_staged_delta(epoch),
            expectations,
            lambda: self.read_staged(epoch),
        )
        return {
            "epoch": epoch,
            "passed": all(c["passed"] for c in checks.values()),
            "checks": checks,
        }

    def _run_expectations(
        self, delta: DataFrame, expectations: dict, state_fn
    ) -> dict:
        """Shared expectation engine for ``audit_staged`` (one epoch) and
        ``audit_branch`` (a chain): delta-level checks in ONE aggregation
        job over ``delta``; ``expect_state`` checks in one more over
        ``state_fn()``."""
        known = {"min_rows", "max_rows", "max_delete_fraction", "not_null",
                 "expect", "expect_state"}
        unknown = set(expectations) - known
        if unknown:
            raise ValueError(f"unknown expectation keys: {sorted(unknown)}")
        live = F.col(self.op_col) != self.delete_op
        aggs = [
            F.count(F.lit(1)).alias("_n_total"),
            F.sum(F.when(~live, 1).otherwise(0)).alias("_n_deletes"),
        ]
        for c in expectations.get("not_null", []):
            aggs.append(
                F.sum(F.when(live & F.col(c).isNull(), 1).otherwise(0)).alias(
                    f"_nn_{c}"
                )
            )
        for name, expr in expectations.get("expect", {}).items():
            # a NULL predicate result is a violation (unknown != pass)
            aggs.append(
                F.sum(
                    F.when(live & ~F.coalesce(F.expr(expr), F.lit(False)), 1)
                    .otherwise(0)
                ).alias(f"_ex_{name}")
            )
        row = delta.agg(*aggs).collect()[0]
        # sums are NULL over an empty (quiet-window) delta
        n_total, n_deletes = row["_n_total"] or 0, row["_n_deletes"] or 0
        n_live = n_total - n_deletes
        checks: dict = {}
        if "min_rows" in expectations:
            bound = expectations["min_rows"]
            checks["min_rows"] = {
                "passed": n_live >= bound, "observed": n_live, "bound": bound,
            }
        if "max_rows" in expectations:
            bound = expectations["max_rows"]
            checks["max_rows"] = {
                "passed": n_live <= bound, "observed": n_live, "bound": bound,
            }
        if "max_delete_fraction" in expectations:
            bound = expectations["max_delete_fraction"]
            frac = (n_deletes / n_total) if n_total else 0.0
            checks["max_delete_fraction"] = {
                "passed": frac <= bound, "observed": round(frac, 6), "bound": bound,
            }
        for c in expectations.get("not_null", []):
            v = row[f"_nn_{c}"] or 0
            checks[f"not_null:{c}"] = {"passed": v == 0, "violations": v}
        for name in expectations.get("expect", {}):
            v = row[f"_ex_{name}"] or 0
            checks[f"expect:{name}"] = {"passed": v == 0, "violations": v}
        state_exprs = expectations.get("expect_state", {})
        if state_exprs:
            state = state_fn()
            s_aggs = [
                F.sum(
                    F.when(~F.coalesce(F.expr(expr), F.lit(False)), 1).otherwise(0)
                ).alias(f"_st_{name}")
                for name, expr in state_exprs.items()
            ]
            s_row = state.agg(*s_aggs).collect()[0]
            for name in state_exprs:
                v = s_row[f"_st_{name}"] or 0
                checks[f"expect_state:{name}"] = {"passed": v == 0, "violations": v}
        return checks

    # ----- audit branches (multi-epoch WAP chains) -----------------------

    def branches(self) -> dict[str, list[int]]:
        """Live audit branches: ``{name: sorted staged epoch ids}``."""
        out: dict[str, list[int]] = {}
        for e_str, entry in self._manifest.get("staged", {}).items():
            b = entry.get("branch")
            if b:
                out.setdefault(b, []).append(int(e_str))
        return {b: sorted(v) for b, v in out.items()}

    def _branch_epochs(self, name: str) -> list[int]:
        eps = self.branches().get(name)
        if not eps:
            raise ValueError(
                f"no staged epochs on branch {name!r} "
                f"(branches: {sorted(self.branches())})"
            )
        return eps

    def read_branch(self, name: str) -> DataFrame:
        """The CANDIDATE table state of a whole audit branch: what
        ``read()`` would return after ``fast_forward(name)`` — current
        base + pending deltas + EVERY staged delta on the branch, merged
        under LWW. Valid because each staged delta is LWW-reduced and
        LWW is order-insensitive; audits run real queries here with no
        visibility side effect."""
        return self._staged_view(self._branch_epochs(name))

    def audit_branch(self, name: str, expectations: dict) -> dict:
        """``audit_staged`` over a chain: delta-level expectations run
        over the UNION of the branch's staged deltas (a key updated in
        two chain epochs contributes both versions to the counts);
        ``expect_state`` runs over the chain candidate state
        (``read_branch``). One aggregation job each."""
        eps = self._branch_epochs(name)
        delta = self.read_staged_delta(eps[0])
        for e in eps[1:]:
            delta = delta.unionByName(
                self.read_staged_delta(e), allowMissingColumns=True
            )
        checks = self._run_expectations(
            delta, expectations, lambda: self.read_branch(name)
        )
        return {
            "branch": name,
            "epochs": eps,
            "passed": all(c["passed"] for c in checks.values()),
            "checks": checks,
        }

    def fast_forward(self, name: str) -> dict:
        """Land an audited branch: ``publish`` every staged epoch of the
        branch in ascending epoch order (each publish is the same atomic
        manifest CAS as always — metadata-only in MOR mode).
        Idempotent/resumable: a crash mid-way leaves a prefix published;
        re-running skips committed epochs and lands the rest. Refuses —
        before publishing anything — if a ``rebucket()`` intervened
        since any chain epoch was staged."""
        eps = self._branch_epochs(name)
        stale = [
            e for e in eps
            if self._staged_entry(e)["num_buckets"] != self.num_buckets
        ]
        if stale:
            raise ValueError(
                f"branch {name!r} epochs {stale} were staged under a "
                f"different bucket count than the sink's current "
                f"{self.num_buckets}; discard_branch() and re-stage"
            )
        results = [self.publish(e) for e in eps]
        return {"branch": name, "published": eps, "results": results}

    def discard_branch(self, name: str) -> dict:
        """Drop every staged epoch of a branch without trace."""
        eps = self._branch_epochs(name)
        for e in eps:
            self.discard(e)
        return {"branch": name, "discarded": eps}

    def publish(self, epoch: int) -> dict:
        """Atomically make a staged epoch visible — the commit point of
        write-audit-publish. Idempotent; refuses if a ``rebucket()``
        intervened since staging (the staged layout's bucket hash is
        stale — ``discard()`` and re-stage). MOR mode commits the staged
        delta dirs as the epoch's deltas (O(1), no data pass); COW mode
        applies the staged delta as a normal copy-on-write merge against
        the CURRENT base (correct under any interleaving: the delta is
        LWW-reduced and LWW is idempotent / order-insensitive on
        ``order_col``). The epoch's lineage commits only now, so
        discarded epochs never pollute lineage."""
        if epoch in self.committed_epochs():
            if epoch in self.staged_epochs():  # merge() committed it meanwhile
                self.discard(epoch)
            return {"epoch": epoch, "skipped": True}
        entry = self._staged_entry(epoch)
        if entry["num_buckets"] != self.num_buckets:
            raise ValueError(
                f"epoch {epoch} was staged under num_buckets="
                f"{entry['num_buckets']} but the sink has since been "
                f"rebucketed to {self.num_buckets}; discard() and re-stage"
            )
        buckets, written = None, None
        if self.merge_mode == "cow":
            # the staged delta IS a valid merge batch (keys + order + op +
            # payload; already one version per key — LWW is idempotent)
            buckets, written = self._fold(
                self.read_staged_delta(epoch), entry["touched"],
                unique_rel(f"data/e{epoch:06d}"),
            )
        elif entry["delta_rels"]:
            written = self._staged_delta_schema(entry)
        result = self._commit_epoch(
            epoch, entry["touched"], entry["lineage"], written, entry["meta"],
            buckets=buckets, new_deltas=entry["delta_rels"], published=True,
        )
        return {**result, "published": True}

    def discard(self, epoch: int) -> dict:
        """Drop a staged epoch (failed audit / abandoned attempt). The
        epoch can be re-staged afterwards; nothing of it remains visible
        (its lineage only ever rode the staged entry), and ``vacuum``
        removes its dirs."""
        self._staged_entry(epoch)
        manifest = dict(self._manifest)
        staged = dict(manifest["staged"])
        staged.pop(str(epoch))
        manifest["staged"] = staged
        self._commit_manifest(manifest)
        return {"epoch": epoch, "discarded": True}

    def publish_if(self, epoch: int, expectations: dict) -> dict:
        """Audit, then publish only on a clean report — the WAP gate in
        one call. A failing epoch STAYS staged for inspection (read it
        with ``read_staged_delta`` / ``read_staged``, then ``discard()``
        or fix-and-restage)."""
        report = self.audit_staged(epoch, expectations)
        if not report["passed"]:
            return {"epoch": epoch, "published": False, "audit": report}
        pub = self.publish(epoch)
        return {**pub, "published": True, "audit": report}

    # ----- metadata tables (Iceberg history/snapshots/files analogue) ----

    def history(self) -> DataFrame:
        """One row per committed epoch snapshot — the Iceberg ``history``
        + ``snapshots`` metadata tables in one: epoch id, events merged
        (summed from the lineage stats embedded in the snapshot),
        max LSN seen, touched buckets, live base-file / pending-delta-dir
        counts AS OF that snapshot, the bucket count the snapshot's
        layout was written under, and whether time travel to it survived
        ``vacuum``. Built from the manifest alone — O(epochs × source
        partitions) driver work, no data file is opened."""
        vac = self._manifest.get("vacuumed_below")
        tagged = {int(t) for t in self._manifest.get("tags", {}).values()}
        rows = []
        for e in self._manifest["epochs"]:
            lin = e.get("lineage", []) or []
            lsns = [r["max_lsn"] for r in lin if r.get("max_lsn") is not None]
            rows.append(
                (
                    int(e["epoch"]),
                    int(sum(r.get("n_events", 0) or 0 for r in lin)),
                    int(max(lsns)) if lsns else None,
                    int(e.get("touched_buckets", 0)),
                    len(e.get("buckets", {})),
                    len(e.get("deltas", [])),
                    int(e.get("num_buckets", self.num_buckets)),
                    # tag-protected snapshots survive vacuum below the mark
                    bool(
                        vac is not None
                        and e["epoch"] < vac
                        and e["epoch"] not in tagged
                    ),
                )
            )
        schema = (
            "epoch int, n_events bigint, max_lsn bigint, touched_buckets int, "
            "base_files int, delta_dirs int, num_buckets int, vacuumed boolean"
        )
        return self.spark.createDataFrame(rows, schema)

    def maintenance_log(self) -> DataFrame:
        """One row per maintenance operation (``compact``/``rebucket``) in
        commit order — the Iceberg snapshot-summary trail for non-epoch
        commits."""
        rows = [
            (i, m.get("op"), int(m.get("deltas_folded", 0)), m.get("dir"))
            for i, m in enumerate(self._manifest.get("maintenance", []))
        ]
        return self.spark.createDataFrame(
            rows, "seq int, op string, deltas_folded int, dir string"
        )

    def files(self) -> DataFrame:
        """One row per LIVE parquet data file — the Iceberg ``files``
        metadata table: relative path, kind (``base``/``delta``), bucket
        id, the source write dir (``e…`` epoch, ``s…`` published staged
        epoch, ``c…`` compaction or ``m…`` rebucket), row count and byte
        size. The file LIST comes from
        the manifest's live dirs (bounded by buckets × pending-delta
        epochs — never a recursive storage walk); rows/bytes come from
        each file's parquet FOOTER, opened DISTRIBUTED via mapInPandas
        so the driver never touches a footer and no column data is read.
        ``stats_cols``/``bloom_cols`` report which columns carry
        ``analyze()`` evidence for the file (empty array = unanalyzed —
        ``read_where``/point lookups keep it conservatively), making
        skipping coverage auditable per file."""
        out_schema = (
            "path string, kind string, bucket int, source string, "
            "rows bigint, bytes bigint, "
            "stats_cols array<string>, bloom_cols array<string>"
        )
        entries = self._live_file_entries()
        if not entries:
            return self.spark.createDataFrame([], out_schema)
        root = self.root
        stats = self._read_stats()
        coverage = [
            (
                sorted(
                    c
                    for c, v in (stats["minmax"].get(p) or {}).items()
                    if v is not None  # skip no-evidence markers
                ),
                sorted(
                    c.replace(chr(0), "+")  # composite blooms: "a+b"
                    for c, e in (stats["bloom"].get(p) or {}).items()
                    if e is not None  # skip no-evidence markers
                ),
            )
            for p, _k, _b, _s in entries
        ]

        def _footers(batches):
            import pyarrow.parquet as pq

            for pdf in batches:
                pdf = pdf.copy()
                full = [os.path.join(root, p) for p in pdf["path"]]
                pdf["rows"] = [pq.read_metadata(p).num_rows for p in full]
                pdf["bytes"] = [os.path.getsize(p) for p in full]
                yield pdf[
                    ["path", "kind", "bucket", "source", "rows", "bytes",
                     "stats_cols", "bloom_cols"]
                ]

        listing = self.spark.createDataFrame(
            [e + c for e, c in zip(entries, coverage)],
            "path string, kind string, bucket int, source string, "
            "stats_cols array<string>, bloom_cols array<string>",
        )
        return listing.repartition(min(len(entries), 32)).mapInPandas(
            _footers, schema=out_schema
        )

    def _live_file_entries(self) -> list[tuple[str, str, int, str]]:
        """(file rel-path, kind base|delta, bucket id, source commit dir)
        for every LIVE parquet file. Listed from the manifest's live dirs
        — bounded by buckets × pending-delta epochs, never a recursive
        storage walk."""
        live: list[tuple[str, str]] = [
            (rel, "base") for rel in self._manifest["buckets"].values()
        ] + [(rel, "delta") for rel in self._manifest.get("deltas", [])]
        entries: list[tuple[str, str, int, str]] = []
        for rel, kind in live:
            bucket = int(rel.rsplit("_bucket=", 1)[1])
            source = rel.split("/")[1]  # the write's dir: e…, s…, c… or m…
            d = os.path.join(self.root, rel)
            for fn in sorted(os.listdir(d)):
                if fn.endswith(".parquet"):
                    entries.append((f"{rel}/{fn}", kind, bucket, source))
        return entries

    # ----- file column stats + stats-pruned scan (data skipping) ---------

    def _stats_keep(
        self, stats: dict, path: str, preds: dict[str, tuple]
    ) -> bool:
        """Can this file hold a row matching every predicate, on the
        recorded evidence? Min/max range disjointness and — for equality
        predicates (``lo == hi``) — Bloom proof of absence both answer
        no; every uncertain case (no stats, type mismatch, no-evidence
        marker) keeps the file. Callers are responsible for the LWW
        gating of WHICH predicates may prune which file."""
        st = stats["minmax"].get(path) or {}
        bl = stats["bloom"].get(path) or {}
        for c, (lo, hi) in preds.items():
            rng = st.get(c)
            if rng:
                try:
                    if (hi is not None and rng[0] > hi) or (
                        lo is not None and rng[1] < lo
                    ):
                        return False
                except TypeError:  # pred/stat type mismatch: keep
                    pass
            bloom_entry = bl.get(c)  # None marker = no evidence
            if (
                lo is not None
                and lo == hi
                and bloom_entry
                and not _bloom_maybe_contains(bloom_entry, lo)
            ):
                return False
        return True

    def _read_stats(self) -> dict:
        """Stats file, normalized to ``{"minmax": {path: {col: [lo, hi]}},
        "bloom": {path: {col: bloom-entry}}}``. Files written before the
        bloom extension hold the flat minmax layout at top level; paths
        always contain a ``/`` so the two layouts cannot collide."""
        rel = self._manifest.get("stats_file")
        if not rel:
            return {"minmax": {}, "bloom": {}}
        with open(os.path.join(self.root, rel)) as fh:
            raw = json.load(fh)
        if "minmax" in raw or "bloom" in raw:
            return {
                "minmax": raw.get("minmax", {}),
                "bloom": raw.get("bloom", {}),
            }
        return {"minmax": raw, "bloom": {}}  # legacy flat layout

    def analyze(
        self,
        cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        bloom_fpp: float = 0.01,
    ) -> dict:
        """Collect per-FILE column min/max from parquet FOOTERS and commit
        them through the manifest CAS — the Iceberg per-file column-stats
        (``ANALYZE`` / manifest-entry ``lower_bounds``/``upper_bounds``)
        analogue, and the input ``read_where`` prunes scans with.

        Data files are immutable once written, so path-keyed stats can
        never go stale; files landed by later epochs are merely
        unanalyzed (``read_where`` keeps them conservatively) until the
        next ``analyze()``, which reads ONLY the new files' footers.
        Footers are opened DISTRIBUTED via mapInPandas — no column data
        is read, and the driver collect is bounded by the live file
        count. Stats are recorded for int/float/str/bool columns whose
        every row group carries min/max; anything else gets a memoized
        no-evidence marker (= never pruned on, never re-opened for).
        Incremental per COLUMN as well as per file: a later
        ``analyze(cols=[...])`` naming new columns re-opens only the
        files missing records for them. Default ``cols``: merge keys +
        order_col.

        ``bloom_cols`` additionally builds a per-FILE Bloom filter over
        each named column's distinct values (the Delta bloom-filter-index
        / Parquet column-bloom analogue): ``read_where`` then skips files
        whose filter PROVES an equality predicate's value absent — the
        evidence min/max cannot give on high-cardinality columns whose
        per-file ranges overlap (a commit-hash point lookup is the
        canonical case). Building blooms READS the named columns (one
        distributed pass over the todo files, column-pruned,
        row-group-streamed — never the whole row); sizing is the standard
        ``m = -n·ln(fpp)/ln²2`` from the file's distinct count, capped at
        128 KiB of bits per column per file. Supported value kinds:
        int / str / bool / binary — anything else is skipped (= no bloom
        evidence, never wrong). Like min/max, blooms are incremental over
        immutable files: a file is re-opened only for requested bloom
        columns it does not already carry.

        A TUPLE entry in ``bloom_cols`` (e.g. ``("repo", "path")``)
        builds one bloom over the COMPOSITE value per row — the evidence
        a multi-column point lookup needs when each member column alone
        is common to every file (500 repos x 400 paths: every file holds
        most repos and most paths, but only ~1/files of the PAIRS).
        ``read_key``/``read_prefix`` probe the tuple bloom whose columns
        exactly match the lookup. Rows with a NULL member are skipped at
        build time — sound, because an equality probe never matches
        NULL."""
        cols = list(cols) if cols is not None else [*self.keys, self.order_col]
        bloom_cols = [
            tuple(c) if isinstance(c, (tuple, list)) else c
            for c in (bloom_cols or [])
        ]
        for c in bloom_cols:
            if isinstance(c, tuple) and (
                len(c) < 2 or not all(isinstance(m, str) for m in c)
            ):
                raise ValueError(
                    f"tuple bloom entry must name >= 2 columns, got {c!r}"
                )
        if not 0.0 < float(bloom_fpp) < 1.0:
            raise ValueError("bloom_fpp must be in (0, 1)")
        live_paths = [e[0] for e in self._live_file_entries()]
        prev = self._read_stats()
        merged = {
            p: dict(prev["minmax"][p])
            for p in live_paths
            if p in prev["minmax"]
        }
        # per-COLUMN incremental: a file is re-opened only for requested
        # columns it has no record for (a null record = "no usable
        # footer stats for this column", memoized like the bloom markers)
        todo = [
            p
            for p in live_paths
            if any(c not in merged.get(p, {}) for c in cols)
        ]
        if todo:
            root = self.root
            want = list(cols)

            def _footer_stats(batches):
                import pandas as pd
                import pyarrow.parquet as pq

                def _plain(v):
                    v = v.item() if hasattr(v, "item") else v
                    if isinstance(v, (bool, int, float, str)):
                        return v
                    return None

                for pdf in batches:
                    stats_json = []
                    for p in pdf["path"]:
                        md = pq.read_metadata(os.path.join(root, p))
                        idx = {
                            md.schema.column(i).path: i
                            for i in range(md.num_columns)
                        }
                        per_col = {}
                        for c in want:
                            i = idx.get(c)
                            if i is None:
                                continue
                            mn = mx = None
                            ok = md.num_row_groups > 0
                            for rg in range(md.num_row_groups):
                                st = md.row_group(rg).column(i).statistics
                                if st is None or not st.has_min_max:
                                    ok = False
                                    break
                                lo, hi = _plain(st.min), _plain(st.max)
                                if lo is None or hi is None:
                                    ok = False
                                    break
                                mn = lo if mn is None or lo < mn else mn
                                mx = hi if mx is None or hi > mx else mx
                            if ok:
                                per_col[c] = [mn, mx]
                            else:
                                per_col[c] = None  # memoized no-evidence
                        for c in want:
                            per_col.setdefault(c, None)  # column absent
                        stats_json.append(json.dumps(per_col))
                    yield pd.DataFrame({"path": pdf["path"], "stats": stats_json})

            listing = self.spark.createDataFrame(
                [(p,) for p in todo], "path string"
            ).repartition(min(len(todo), 32))
            for row in listing.mapInPandas(
                _footer_stats, schema="path string, stats string"
            ).collect():
                got = json.loads(row["stats"])
                merged[row["path"]] = {**merged.get(row["path"], {}), **got}

        bloom_merged = {
            p: dict(prev["bloom"][p]) for p in live_paths if p in prev["bloom"]
        }
        bloom_todo = [
            p
            for p in live_paths
            if any(
                _bloom_entry_name(c) not in bloom_merged.get(p, {})
                for c in bloom_cols
            )
        ]
        if bloom_cols and bloom_todo:
            root = self.root
            # serializable spec: str = single column, list = tuple bloom
            want_b = [
                list(c) if isinstance(c, tuple) else c for c in bloom_cols
            ]
            fpp = float(bloom_fpp)

            def _file_blooms(batches):
                import math

                import pandas as pd
                import pyarrow as pa
                import pyarrow.parquet as pq

                def _kind(t):
                    if pa.types.is_boolean(t):
                        return "bool"
                    if pa.types.is_integer(t):
                        return "int"
                    if pa.types.is_string(t) or pa.types.is_large_string(t):
                        return "str"
                    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
                        return "bytes"
                    return None  # no bloom evidence for other types

                def _name(spec):
                    return "\u0000".join(spec) if isinstance(spec, list) else spec

                for pdf in batches:
                    out = []
                    for p in pdf["path"]:
                        pf = pq.ParquetFile(os.path.join(root, p))
                        names = set(pf.schema_arrow.names)
                        kinds = {
                            c: _kind(pf.schema_arrow.field(c).type)
                            for c in names
                        }
                        singles = [
                            c for c in want_b
                            if isinstance(c, str) and kinds.get(c)
                        ]
                        tuples = [
                            c for c in want_b
                            if isinstance(c, list)
                            and all(kinds.get(m) for m in c)
                        ]
                        here = singles + [_name(c) for c in tuples]
                        read_cols = sorted(
                            set(singles)
                            | {m for c in tuples for m in c}
                        )
                        digests: dict[str, set] = {n: set() for n in here}
                        if read_cols:
                            for rb in pf.iter_batches(
                                columns=read_cols, batch_size=65536
                            ):
                                data = {
                                    c: rb.column(
                                        rb.schema.get_field_index(c)
                                    ).to_pylist()
                                    for c in read_cols
                                }
                                for c in singles:
                                    add, kd = digests[c].add, kinds[c]
                                    for v in data[c]:
                                        if v is not None:
                                            add(
                                                hashlib.md5(
                                                    _bloom_enc(kd, v)
                                                ).digest()
                                            )
                                for spec in tuples:
                                    add = digests[_name(spec)].add
                                    kds = [kinds[m] for m in spec]
                                    for row in zip(*[data[m] for m in spec]):
                                        if any(v is None for v in row):
                                            continue  # NULL never matches =
                                        joined = b"\x1f".join(
                                            _bloom_enc(kd, v)
                                            for kd, v in zip(kds, row)
                                        )
                                        add(hashlib.md5(joined).digest())
                        # unsupported kind or column absent from this
                        # file: record an explicit no-evidence marker so
                        # the file is never re-opened for this column
                        entry = {
                            _name(c): None
                            for c in want_b
                            if _name(c) not in here
                        }
                        tuple_kinds = {
                            _name(c): [kinds[m] for m in c] for c in tuples
                        }
                        for c in here:
                            n = len(digests[c])
                            m = (
                                64
                                if n == 0
                                else int(
                                    -n * math.log(fpp) / (math.log(2) ** 2)
                                )
                                + 1
                            )
                            m = max(64, min(m, 1 << 20))
                            kk = (
                                min(16, max(1, round(m / n * math.log(2))))
                                if n
                                else 1
                            )
                            bits = bytearray((m + 7) // 8)
                            for d in digests[c]:
                                h1 = int.from_bytes(d[:8], "little")
                                h2 = int.from_bytes(d[8:], "little") | 1
                                for i in range(kk):
                                    pos = (h1 + i * h2) % m
                                    bits[pos >> 3] |= 1 << (pos & 7)
                            if c in tuple_kinds:
                                entry[c] = {
                                    "m": m,
                                    "k": kk,
                                    "kind": "tuple",
                                    "kinds": tuple_kinds[c],
                                    "b64": base64.b64encode(
                                        bytes(bits)
                                    ).decode(),
                                }
                            else:
                                entry[c] = {
                                    "m": m,
                                    "k": kk,
                                    "kind": kinds[c],
                                    "b64": base64.b64encode(
                                        bytes(bits)
                                    ).decode(),
                                }
                        out.append(json.dumps(entry))
                    yield pd.DataFrame({"path": pdf["path"], "bloom": out})

            listing_b = self.spark.createDataFrame(
                [(p,) for p in bloom_todo], "path string"
            ).repartition(min(len(bloom_todo), 32))
            for row in listing_b.mapInPandas(
                _file_blooms, schema="path string, bloom string"
            ).collect():
                bloom_merged.setdefault(row["path"], {}).update(
                    json.loads(row["bloom"])
                )

        seq = int(self._manifest.get("stats_seq", 0)) + 1
        rel = unique_rel(f"stats/s{seq:06d}") + ".json"
        os.makedirs(os.path.join(self.root, "stats"), exist_ok=True)
        with open(os.path.join(self.root, rel), "w") as fh:
            json.dump({"minmax": merged, "bloom": bloom_merged}, fh)
        manifest = dict(self._manifest)
        manifest["stats_file"] = rel
        manifest["stats_seq"] = seq
        self._commit_manifest(manifest)
        return {
            "files_analyzed": len(todo),
            "files_total": len(live_paths),
            "cols": cols,
            "files_bloomed": len(bloom_todo) if bloom_cols else 0,
            "bloom_cols": bloom_cols,
        }

    def read_where(self, predicates: dict) -> DataFrame:
        """Stats-pruned scan: live rows satisfying range/equality
        predicates, skipping whole data FILES whose ``analyze()``-recorded
        min/max cannot intersect — the Iceberg manifest-level data-skipping
        analogue, one level above the parquet row-group skipping
        ``sort_within_buckets`` buys. ``predicates`` maps column ->
        ``(lo, hi)`` inclusive bounds (either side ``None`` = unbounded).
        Equivalent to ``read().filter(...)`` — exact filters always apply
        after pruning, so unanalyzed files only cost scan time, never
        correctness.

        Pruning soundness under LWW merge: a predicate on a MERGE KEY
        column prunes ANY file — key values are immutable across a row's
        versions, so a file whose key-range is disjoint holds no version
        of any matching key (and the exact key filter runs BEFORE the LWW
        reduce, so dropped non-matching versions can't flip a winner). A
        predicate on a non-key column prunes only files in buckets with
        NO pending deltas: those rows are final, whereas a delta-pending
        bucket may hold an old version inside the range whose newer
        version falls outside it — pruning there would resurrect the old
        row. COW tables therefore prune on everything; MOR tables prune
        non-key columns everywhere except the not-yet-compacted buckets.
        One refinement: a LOWER bound on ``order_col`` prunes anywhere —
        a row below the bound either loses LWW to a kept higher-LSN
        version or wins and is then removed by the exact post-merge
        filter, so dropping its file cannot change the result (ties share
        one LSN, so both sides of a tie sit on the same side of the
        bound). That is the tail-scan shape (``lsn >= X``) a CDC consumer
        runs constantly; the symmetric UPPER bound stays unsound there
        because a file above it can hold the winner that masks an
        in-range old version (use ``read_as_of`` for time travel).

        An EQUALITY predicate (``lo == hi``, both non-None) additionally
        consults the column's per-file Bloom filter when
        ``analyze(bloom_cols=[...])`` recorded one: a file is skipped
        when the filter proves the value absent, which prunes
        high-cardinality point lookups (commit hashes, paths) whose
        per-file min/max ranges all overlap. Bloom evidence obeys the
        SAME key/delta gating as min/max — it is a stronger answer to
        the same "can this file hold a matching row?" question — and a
        false-positive bit pattern merely keeps a file (the exact filter
        still runs), so fpp affects scan cost, never correctness."""
        if not predicates:
            raise ValueError("read_where needs at least one column predicate")
        preds: dict[str, tuple] = {}
        for c, bounds in predicates.items():
            lo, hi = bounds
            if lo is None and hi is None:
                raise ValueError(f"predicate on {c!r} has no bounds")
            preds[c] = (lo, hi)
        key_preds = {c: b for c, b in preds.items() if c in self.keys}
        other_preds = {c: b for c, b in preds.items() if c not in self.keys}
        # order_col lower bound: sound pre-merge everywhere (see docstring)
        delta_safe = dict(key_preds)
        if self.order_col in preds and preds[self.order_col][0] is not None:
            delta_safe[self.order_col] = (preds[self.order_col][0], None)
        stats = self._read_stats()

        delta_buckets = {
            rel.rsplit("_bucket=", 1)[1]
            for rel in self._manifest.get("deltas", [])
        }

        def _keep(path: str, bucket: int, usable: dict[str, tuple]) -> bool:
            return self._stats_keep(stats, path, usable)

        base_files: list[str] = []
        delta_files: list[str] = []
        for path, kind, bucket, _src in self._live_file_entries():
            usable = (
                delta_safe if str(bucket) in delta_buckets else preds
            )
            if _keep(path, bucket, usable):
                (delta_files if kind == "delta" else base_files).append(path)

        def _cond(pred_map: dict[str, tuple]):
            cond = None
            for c, (lo, hi) in pred_map.items():
                for term in (
                    (F.col(c) >= F.lit(lo)) if lo is not None else None,
                    (F.col(c) <= F.lit(hi)) if hi is not None else None,
                ):
                    if term is not None:
                        cond = term if cond is None else (cond & term)
            return cond

        schema = self._snapshot_schema(self._manifest)
        if not base_files and not delta_files:
            out = self._empty_frame(schema)  # every file pruned: live schema
        else:
            out = self._merged_view(
                base_files, delta_files, schema, pre_filter=_cond(key_preds)
            )
        other_cond = _cond(other_preds)
        return out.filter(other_cond) if other_cond is not None else out

    def read_changes(
        self,
        to_epoch: int | str,
        from_epoch: int | str | None = None,
        include_preimages: bool = False,
    ) -> DataFrame:
        """Incremental changelog between two committed snapshots — the
        change-data-feed analogue (Iceberg incremental read / Delta CDF).
        Rows: keys + ``_change_type`` (insert | update_postimage |
        delete) + the post-image payload (pre-image for deletes) +
        ``order_col``. ``from_epoch=None`` diffs against the empty table
        (everything is an insert).

        ``include_preimages=True`` additionally emits an
        ``update_preimage`` row (prior payload + prior ``order_col``)
        for every update — the Delta-CDF pairing a downstream
        incremental consumer needs to SUBTRACT a key's old contribution
        (see ``streaming/view.py``), and the only way to learn the OLD
        value of a changed grouping column. Default off: the original
        one-row-per-change shape is unchanged.

        Scale property: copy-on-write means an untouched bucket keeps the
        IDENTICAL file path across snapshots, so only buckets whose path
        differs between the two bucket maps are read at all — the diff
        cost is O(changed data), not O(table). Within changed buckets a
        key changed iff its stored ``order_col`` changed (LWW: one
        version per key per snapshot, monotone in ``order_col``).

        Raises :class:`NoChanges` (a ``ValueError``) when the two
        snapshots hold the same data: ``from_epoch == to_epoch``, or a
        range that changed no bucket (copy-on-write) or added no delta
        (merge-on-read)."""
        to_epoch = self._resolve_epoch(to_epoch)
        from_epoch = self._resolve_epoch(from_epoch)
        if self.merge_mode == "mor":
            return self._read_changes_mor(to_epoch, from_epoch, include_preimages)
        from_s, to_s = self._snapshot(from_epoch), self._snapshot(to_epoch)
        fm = dict(from_s["buckets"]) if from_s is not None else {}
        tm = dict(to_s["buckets"])
        f_items, t_items = set(fm.items()), set(tm.items())
        old_rels = [rel for b, rel in fm.items() if (b, rel) not in t_items]
        new_rels = [rel for b, rel in tm.items() if (b, rel) not in f_items]

        def _read(rels: list[str], snap: dict | None) -> DataFrame | None:
            if not rels:
                return None
            return self._read_files(rels, self._snapshot_schema(snap))

        old, new = _read(old_rels, from_s), _read(new_rels, to_s)
        if old is None and new is None:
            raise NoChanges("snapshots are identical — no changed buckets")
        ct = "_change_type"
        if old is None:
            return new.withColumn(ct, F.lit("insert"))
        if new is None:
            return old.withColumn(ct, F.lit("delete"))
        return self._classify_state_diff(old, new, include_preimages)

    def _classify_state_diff(
        self, old: DataFrame, new: DataFrame, include_preimages: bool = False
    ) -> DataFrame:
        return classify_state_diff(
            old, new, self.keys, self.order_col, include_preimages
        )

    def _require_rels(self, rels: list[str]) -> None:
        """Refuse with a clear error when snapshot files a changelog
        needs were vacuum()ed away (bounded driver-side existence probe:
        <= num_buckets + pending-delta dirs)."""
        missing = sorted(
            r for r in set(rels)
            if not os.path.exists(os.path.join(self.root, r))
        )
        if missing:
            raise ValueError(
                "snapshot files were vacuumed away — the changelog over "
                f"this range is no longer reconstructible (missing e.g. "
                f"{missing[:3]})"
            )

    def _snapshot(self, epoch: int | None) -> dict | None:
        if epoch is None:
            return None
        for e in self._manifest["epochs"]:
            if e["epoch"] == epoch:
                return e
        raise ValueError(f"epoch {epoch} is not committed")

    def _read_changes_mor(
        self,
        to_epoch: int,
        from_epoch: int | None,
        include_preimages: bool = False,
    ) -> DataFrame:
        """Changelog for a merge-on-read sink. MOR epochs append
        LWW-reduced delta directories, so the deltas committed in
        ``(from_epoch, to_epoch]`` already ARE the changed data — read
        exactly those dirs (O(changed), no snapshot diffing), reduce to
        the per-key range winner, and classify each winner against the
        as-of-``from_epoch`` state, which is itself pruned to the
        winners' buckets. Output schema and semantics match the COW
        path: insert / update_postimage / delete (pre-image payload and
        order for deletes); a tombstone for a key not live at
        ``from_epoch``, or a replayed stale version, is not a change.

        Ranges a ``compact()``/``rebucket()`` landed inside fall back to
        diffing the two as-of snapshot states (COW-style classification,
        O(states) instead of O(changed)) — same rows, higher cost; only
        ranges whose snapshots ``vacuum()`` deleted refuse."""
        to_s = self._snapshot(to_epoch)
        from_s = self._snapshot(from_epoch)
        to_deltas = list(to_s.get("deltas", []))
        if from_s is None:
            # diff against the empty table: every live row as of to_epoch
            # is an insert. MUST use the full snapshot (base + deltas) —
            # a compact() earlier in history folds deltas into the base,
            # so "just the delta dirs" would silently miss those rows.
            state = self._snapshot_view(to_s)
            payload = [
                c for c in state.columns
                if c not in self.keys and c != self.order_col
            ]
            return state.select(
                *self.keys,
                F.lit("insert").alias("_change_type"),
                self.order_col,
                *payload,
            )
        from_deltas = list(from_s.get("deltas", []))
        from_buckets = dict(from_s["buckets"])
        if set(from_deltas) - set(to_deltas) or (
            from_buckets != dict(to_s["buckets"])
        ):
            # a compact()/rebucket() landed inside the range: the range's
            # deltas were folded into a new base, so the O(changed)
            # delta-only changelog is gone. Fall back to diffing the two
            # as-of snapshot STATES (COW-style classification) — costs
            # O(both states) instead of O(changed), but stays correct
            # across any maintenance boundary. With auto-compaction on by
            # default (compact_every), any long-lived changelog consumer
            # hits this path, so refusing is not an option; refusal
            # remains only for snapshots vacuum() actually deleted.
            self._require_rels(
                list(from_buckets.values()) + from_deltas
                + list(to_s["buckets"].values()) + to_deltas
            )
            return self._classify_state_diff(
                self._snapshot_view(from_s), self._snapshot_view(to_s),
                include_preimages,
            )
        new_rels = [r for r in to_deltas if r not in set(from_deltas)]
        if not new_rels:
            raise NoChanges("snapshots are identical — no new deltas")
        self._require_rels(new_rels + list(from_buckets.values()) + from_deltas)
        d = self._read_files(new_rels, self._delta_schema(self._snapshot_schema(to_s)))
        payload = [
            c for c in d.columns
            if c not in self.keys and c not in (self.order_col, self.op_col)
        ]
        w = lww_latest(d, self.keys, self.order_col, payload + [self.op_col])

        # prior state, pruned to the winners' buckets (collect is bounded
        # by num_buckets, same as the manifest/lineage driver steps).
        # CRITICAL: probe with the SNAPSHOT's own bucket count, not the
        # live self.num_buckets — a rebucket() committed after to_epoch
        # changes the live count while from_buckets keys and delta dir
        # suffixes still use the count the snapshot was written under;
        # probing with the new count would silently miss prior rows and
        # misclassify updates as inserts.
        snap_nb = from_s.get("num_buckets")
        if snap_nb is None:
            # pre-num_buckets-recording manifest: only safe if no
            # rebucket() ever happened on this table
            if any(
                m.get("op") == "rebucket"
                for m in self._manifest.get("maintenance", [])
            ):
                raise ValueError(
                    "snapshot predates per-epoch bucket-count recording and "
                    "this table has a rebucket() in its history — candidate-"
                    "bucket pruning cannot be proven correct; diff "
                    f"read_as_of({from_epoch}) vs read_as_of({to_epoch}) "
                    "instead"
                )
            snap_nb = self.num_buckets
        probe = F.pmod(
            F.xxhash64(*[F.col(k) for k in self.bucket_cols]), F.lit(int(snap_nb))
        )
        cand = {
            str(r._b)
            for r in w.select(probe.alias("_b")).distinct().collect()
        }
        base_rels = [from_buckets[b] for b in sorted(cand) if b in from_buckets]
        delta_rels = [
            r for r in from_deltas
            if any(r.endswith(f"_bucket={b}") for b in cand)
        ]
        ct = "_change_type"
        if not base_rels and not delta_rels:  # empty prior: inserts only
            return (
                w.filter(F.col(self.op_col) != self.delete_op)
                .select(
                    *self.keys,
                    F.lit("insert").alias(ct),
                    self.order_col,
                    *payload,
                )
            )
        prior = self._merged_view(
            base_rels, delta_rels, self._snapshot_schema(from_s)
        )
        p = prior.select(
            *[F.col(k).alias(f"_pk_{k}") for k in self.keys],
            F.col(self.order_col).alias("_p_ord"),
            *[
                F.col(c).alias(f"_p_{c}")
                for c in payload
                if c in prior.columns
            ],
        )
        cond = None
        for k in self.keys:
            eq = w[k].eqNullSafe(p[f"_pk_{k}"])
            cond = eq if cond is None else (cond & eq)
        j = w.join(p, cond, "left_outer")
        present_old = F.col("_p_ord").isNotNull()
        is_del = F.col(self.op_col) == self.delete_op
        newer = F.col(self.order_col) >= F.col("_p_ord")
        change = (
            F.when(is_del & present_old & newer, F.lit("delete"))
            .when(is_del, F.lit(None))  # tombstone of absent/newer-live key
            .when(~present_old, F.lit("insert"))
            .when(F.col(self.order_col) > F.col("_p_ord"), F.lit("update_postimage"))
            .otherwise(F.lit(None))  # same or stale version: not a change
        )
        out = j.withColumn(ct, change).filter(F.col(ct).isNotNull())
        sel = [F.col(k) for k in self.keys]
        sel.append(F.col(ct))
        sel.append(
            F.when(F.col(ct) == "delete", F.col("_p_ord"))
            .otherwise(F.col(self.order_col))
            .alias(self.order_col)
        )
        for c in payload:
            pre = F.col(f"_p_{c}") if f"_p_{c}" in j.columns else F.lit(None)
            sel.append(
                F.when(F.col(ct) == "delete", pre).otherwise(F.col(c)).alias(c)
            )
        if not include_preimages:
            return out.select(*sel)
        # single-pass preimage emission (same rationale as
        # classify_state_diff): explode 1-or-2 structs per change row
        # instead of re-evaluating the delta-vs-prior join per branch.
        post_f = [
            F.col(ct).alias("_ct"),
            F.when(F.col(ct) == "delete", F.col("_p_ord"))
            .otherwise(F.col(self.order_col))
            .alias("_ord"),
        ]
        pre_f = [
            F.lit("update_preimage").alias("_ct"),
            F.col("_p_ord").alias("_ord"),
        ]
        for c in payload:
            old_c = (
                F.col(f"_p_{c}")
                if f"_p_{c}" in j.columns
                else F.lit(None).cast(d.schema[c].dataType)
            )
            post_f.append(
                F.when(F.col(ct) == "delete", old_c)
                .otherwise(F.col(c))
                .alias(c)
            )
            pre_f.append(old_c.alias(c))
        arr = F.when(
            F.col(ct) == "update_postimage",
            F.array(F.struct(*post_f), F.struct(*pre_f)),
        ).otherwise(F.array(F.struct(*post_f)))
        ex = out.select(*self.keys, F.explode(arr).alias("_e"))
        final = [F.col(k) for k in self.keys]
        final.append(F.col("_e._ct").alias(ct))
        final.append(F.col("_e._ord").alias(self.order_col))
        final += [F.col(f"_e.{c}").alias(c) for c in payload]
        return ex.select(*final)

    # ----- maintenance: bucket-count evolution -----------------------------

    def rebucket(self, new_num_buckets: int) -> dict:
        """Online bucket-count evolution (the Iceberg
        rewrite_data_files + partition-spec-evolution analogue). The
        right bucket count GROWS with the table — fixed buckets that were
        right at 10^8 rows are hotspots at 10^10 — so the table can be
        rewritten under a new ``pmod(xxhash64(bucket_cols), N)`` in one job and
        committed atomically through the same manifest CAS as an epoch.
        Readers see the old layout until the commit; prior epoch
        snapshots keep their old-layout paths, so time travel is
        unaffected (until vacuum). Idempotent retry-safety comes from the
        optimistic-concurrency check: a concurrent epoch commit raises
        instead of being silently overwritten."""
        if new_num_buckets == self.num_buckets:
            return {"rebucketed": False, "num_buckets": self.num_buckets}
        rel_dir = unique_rel(f"data/m{len(self._manifest.get('maintenance', [])):06d}")
        frame = self.read().withColumn("_bucket", F.pmod(
            F.xxhash64(*[F.col(k) for k in self.bucket_cols]), F.lit(new_num_buckets)
        ))
        new_map, schema = self._write_buckets(frame, rel_dir, new_num_buckets)
        manifest = dict(self._manifest)
        manifest["buckets"] = new_map
        manifest["num_buckets"] = new_num_buckets
        self._record_schema(manifest, None, schema if new_map else None)
        # read() above already folded any pending MOR deltas into the
        # rewrite; leaving them listed would only re-apply no-ops
        manifest["deltas"] = []
        manifest["maintenance"] = manifest.get("maintenance", []) + [
            {"op": "rebucket", "from": self.num_buckets, "to": new_num_buckets,
             "dir": rel_dir}
        ]
        self._commit_manifest(manifest)
        self.num_buckets = new_num_buckets
        return {"rebucketed": True, "num_buckets": new_num_buckets,
                "buckets_written": len(new_map)}
