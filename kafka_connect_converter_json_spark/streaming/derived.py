"""Lifecycle shared by the state derived from a sink's preimage
changelog: the aggregate view (``view.py``) and the MinHash-LSH, IVF
and BM25 indexes (``lsh_index.py``, ``ann_index.py``,
``text_index.py``). Each module keeps only how it turns a changelog
into state and how that state is read and searched."""

from __future__ import annotations

import os
import shutil
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .sink import BucketedMergeSink, ConcurrentCommitError, NoChanges, unique_rel

# ASCII unit separator: joins composite sink keys into the index's doc id
KEY_SEP = "\x1f"


class DerivedState:
    """State under ``root`` derived from ``sink``, named by one JSON
    manifest (``MANIFEST``) that carries a ``version`` and the
    ``last_epoch`` the state reflects.

    Exactly-once: a refresh or compaction first writes its state into
    fresh ``unique_rel`` dirs, then commits by swapping the manifest
    through the sink's ``ManifestWriter`` under a versioned
    compare-and-swap. A handle whose loaded version is no longer the
    stored one raises ``ConcurrentCommitError`` and leaves the manifest
    as it was; reopen and retry. Only the manifest names live state and
    no writer deletes, so a crash before the swap, or a lost swap,
    leaves an orphan dir no read sees, and ``vacuum`` collects it.
    Re-delivering a committed refresh is a no-op, and a range whose
    changelog is empty (``NoChanges``) commits the new ``last_epoch``
    without writing state.

    Subclasses set ``MANIFEST`` and ``_UNCHANGED`` (the extra keys of a
    refresh that folds nothing) and implement ``_check_reopen()`` (refuse
    a manifest built with other parameters), ``_live_rels()`` (the dirs
    the manifest names) and ``_fold(changes, to_epoch)``: write the
    state for ``changes``, the preimage changelog of ``(last_epoch,
    to_epoch]``, and return the manifest fields to commit and the extra
    keys ``refresh`` returns.
    """

    MANIFEST: str
    _UNCHANGED: dict = {}

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        sink: BucketedMergeSink,
        fresh: dict,
    ) -> None:
        """Open the state at ``root``: its stored manifest, or ``fresh``
        at version 0 with no refreshed epoch."""
        self.spark = spark
        self.root = root
        self.sink = sink
        os.makedirs(root, exist_ok=True)
        self._manifest = sink._writer.read(os.path.join(root, self.MANIFEST)) or {
            "version": 0,
            "last_epoch": None,
            **fresh,
        }
        self._check_reopen()

    @property
    def last_epoch(self) -> int | None:
        return self._manifest["last_epoch"]

    def refresh(self, to_epoch: int | None = None) -> dict:
        """Advance to the sink's ``to_epoch`` (default: its latest
        committed epoch), reading only the changelog of
        ``(last_epoch, to_epoch]``. Idempotent: a target at or behind
        ``last_epoch`` is a committed-refresh no-op."""
        committed = self.sink.committed_epochs()
        if not committed:
            raise ValueError("sink has no committed epochs")
        if to_epoch is None:
            to_epoch = max(committed)
        elif to_epoch not in committed:
            raise ValueError(f"epoch {to_epoch} is not committed in the sink")
        last = self.last_epoch
        if last is not None and to_epoch <= last:
            return {"refreshed": False, "last_epoch": last, **self._UNCHANGED}
        try:
            changes = self.sink.read_changes(
                to_epoch, from_epoch=last, include_preimages=True
            )
        except NoChanges:
            update, out = {}, self._UNCHANGED
        else:
            update, out = self._fold(changes, to_epoch)
        self._swap({**self._manifest, **update, "last_epoch": to_epoch})
        return {"refreshed": True, "last_epoch": to_epoch, **out}

    def vacuum(self) -> list[str]:
        """Drop the dirs under ``root`` the manifest no longer names:
        superseded state and orphans of crashed attempts."""
        live = self._live_rels()
        gone = []
        for d in sorted(os.listdir(self.root)):
            p = os.path.join(self.root, d)
            if os.path.isdir(p) and d not in live:
                shutil.rmtree(p)
                gone.append(d)
        return gone

    def _swap(self, nxt: dict) -> None:
        """Commit ``nxt`` as the next manifest version (the
        compare-and-swap of the class docstring)."""
        path = os.path.join(self.root, self.MANIFEST)
        stored = (self.sink._writer.read(path) or {}).get("version", 0)
        if stored != self._manifest["version"]:
            raise ConcurrentCommitError(
                f"{self.MANIFEST} at {self.root!r} moved to v{stored} (loaded "
                f"v{self._manifest['version']}) — reopen and retry"
            )
        nxt = {**nxt, "version": stored + 1}
        self.sink._writer.commit(path, nxt)
        self._manifest = nxt


class DeltaIndex(DerivedState):
    """Derived state kept as signed rows in a ``base`` dir plus one
    ``deltas`` dir per refresh. A row's retraction is the same row with
    the opposite sign, so the live state is the per-row signed sum over
    every named dir, and ``compact`` folds them into one new base. Rows
    are keyed by the doc id: the sink keys joined with ``KEY_SEP``.

    Subclasses also set ``_PARAMS_OF`` (named in the reopen error) and
    implement ``_params()`` (the parameters the state is built with) and
    ``_write_base(path)`` (write the live rows, each signed +1).
    """

    _PARAMS_OF: str

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        sink: BucketedMergeSink,
        **fresh,
    ) -> None:
        super().__init__(
            spark, root, sink,
            {"base": None, "deltas": [], "params": self._params(), **fresh},
        )

    def compact(self) -> dict:
        """Fold base + deltas into one base dir (the sink's MOR
        ``compact()`` pattern); state unchanged, read amplification
        reset. Old dirs stay on disk until ``vacuum``."""
        folded = len(self._manifest["deltas"])
        if not folded:
            return {"compacted": False, "deltas_folded": 0}
        rel = unique_rel(f"base_e{self.last_epoch}")
        self._write_base(os.path.join(self.root, rel))
        self._swap({**self._manifest, "base": rel, "deltas": []})
        return {"compacted": True, "deltas_folded": folded}

    def _check_reopen(self) -> None:
        stored = self._manifest["params"]
        if stored != self._params():
            raise ValueError(
                f"index exists with different {self._PARAMS_OF} params "
                f"{stored}; reopen with those (got {self._params()})"
            )

    def _live_rels(self) -> set[str]:
        return set(self._state_rels())

    def _doc_id(self) -> Column:
        return F.concat_ws(KEY_SEP, *[F.col(k) for k in self.sink.keys])

    @staticmethod
    def _signed(changes: DataFrame, rows) -> DataFrame:
        """``rows(adds)`` with ``_n`` = +1 unioned with ``rows(retractions)``
        with ``_n`` = -1. Adds are the changelog's new versions (insert,
        update_postimage); retractions its old ones (delete,
        update_preimage), which ``rows`` — a pure function of the
        payload — maps onto exactly the rows their add wrote."""
        ct = F.col("_change_type")
        adds = rows(changes.filter(ct.isin("insert", "update_postimage")))
        dels = rows(changes.filter(ct.isin("delete", "update_preimage")))
        return adds.withColumn("_n", F.lit(1)).unionByName(
            dels.withColumn("_n", F.lit(-1))
        )

    @staticmethod
    def _live_rows(raw: DataFrame, keys: list[str], n: str = "_n") -> DataFrame:
        """The rows of ``raw`` whose signed ``n`` sums to > 0 per ``keys``."""
        return raw.groupBy(*keys).agg(F.sum(n).alias(n)).filter(F.col(n) > 0)

    def _state_rels(self) -> list[str]:
        base = self._manifest["base"]
        return ([base] if base else []) + list(self._manifest["deltas"])

    def _read_state(
        self,
        schema: str,
        sub: str = "",
        part: str | None = None,
        values: list | None = None,
        rels: list[str] | None = None,
    ) -> DataFrame:
        """Union of the ``sub`` tables of the dirs ``rels`` (default:
        the committed base and deltas), each read under its OWN
        basePath: the ``part=`` partition layout is per dir, so one
        shared basePath would conflict. ``values`` prunes at the PATH
        level — only the ``part=<v>`` subdirectories are handed to the
        reader (the sink's bucket-dir idiom), so unprobed partitions'
        files, footers included, never enter the scan. The schema is
        explicit because a delta whose rows all netted out is an EMPTY
        dir, which schema inference refuses. Empty when no dir matches."""
        parts = []
        for rel in self._state_rels() if rels is None else rels:
            d = os.path.normpath(os.path.join(self.root, rel, sub))
            if values is None:
                paths = [d]
            else:
                paths = [
                    p
                    for v in values
                    if os.path.isdir(p := os.path.join(d, f"{part}={v}"))
                ]
            if paths:
                parts.append(
                    self.spark.read.schema(schema)
                    .option("basePath", d)
                    .parquet(*paths)
                )
        if not parts:
            return self.spark.createDataFrame([], schema)
        return reduce(DataFrame.unionByName, parts)
