"""Incremental materialized-view maintenance — SURVEY.md §2.2 N20.

The canonical consumer of the sink's change-data-feed: a derived
aggregate table (``GROUP BY g: count / sum / avg / min / max``) kept
fresh from ``read_changes`` deltas instead of full recomputation — what
Iceberg/Delta docs call *incremental refresh* and the literature calls
incremental view maintenance (IVM). The reference converter feeds
sinks that downstream jobs aggregate (JC:1-40 context: converter →
topic → table); at 10^10 events the derived tables are exactly what a
re-aggregation cannot afford to rebuild per epoch.

Two maintenance strategies, chosen per view:

- ``strategy="delta"`` (count / sum / avg): the update is computed from
  the changelog ALONE — O(changed keys + |view|) per refresh, never
  touching the base table. Each change row contributes with a sign
  (+1 for ``insert``/``update_postimage``, −1 for ``delete``/
  ``update_preimage`` — the pre-image rows are why
  ``read_changes(include_preimages=True)`` exists); the signed
  contributions union with the stored accumulator state and re-group.
  SUM keeps a hidden non-null count per column so a group whose every
  value is NULL finalizes to NULL (SQL semantics), and groups whose
  row count reaches 0 vanish. min/max are refused here: they are not
  subtractable (retracting the current min needs the base table).
- ``strategy="recompute"`` (any aggregate): the changelog only
  *localizes* the work — the distinct grouping keys among change rows
  (pre- AND post-images, so a row migrating between groups dirties
  both) are recomputed from ``read_as_of(to_epoch)`` via a null-safe
  semi-join, everything else is carried over — O(affected groups'
  data), not O(table).
- ``strategy="hybrid"`` (any aggregate): count/sum/avg evolve exactly
  as ``delta``; min/max are maintained from the changelog through
  per-group BOUNDED CANDIDATE multisets (the classic IVM answer to
  non-subtractable extremes). Each group stores its k best
  ``(value, multiplicity)`` candidates plus a displacement bound: when
  truncation drops values, every untracked live value is provably no
  better than the recorded bound, so the head candidate is the true
  extreme whenever it is inside the bound. Retracting the current
  extreme falls through to the next candidate with NO base read.
  Only two conditions touch the base, both localized to the affected
  groups via semi-join: candidate exhaustion (all k retracted while
  live non-null rows remain) and a bound crossing (every survivor is
  worse than the bound, so a better untracked value may exist — the
  insert-5-after-displacing-3 case). Steady state is O(changes +
  view·k) per refresh.

Each refresh writes a full state snapshot under ``state_e{to_epoch}/``
and commits it through ``_view_manifest.json`` (lifecycle and
exactly-once: ``derived.DerivedState``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .derived import DerivedState
from .sink import BucketedMergeSink, unique_rel

VIEW_MANIFEST = "_view_manifest.json"

_DELTA_FNS = {"count", "sum", "avg"}
_MINMAX = {"min", "max"}
_ALL_FNS = _DELTA_FNS | _MINMAX
_CNT = "_view_rows"  # hidden per-group live-row count (group GC + count())


class IncrementalAggView(DerivedState):
    """A materialized ``GROUP BY`` over a :class:`BucketedMergeSink`,
    refreshed incrementally from the sink's changelog.

    ``aggs`` maps output column name → ``(fn, input_col)``; ``fn`` in
    {count, sum, avg, min, max}, ``input_col`` ignored for ``count``
    (row count per group). ``read()`` returns the finalized public
    schema ``group_cols + aggs`` as of ``last_epoch``.
    """

    MANIFEST = VIEW_MANIFEST

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        sink: BucketedMergeSink,
        group_cols: list[str],
        aggs: dict[str, tuple[str, str | None]],
        strategy: str = "delta",
        candidates_per_group: int = 8,
    ) -> None:
        if strategy not in ("delta", "recompute", "hybrid"):
            raise ValueError(f"unknown strategy {strategy!r}")
        allowed = _DELTA_FNS if strategy == "delta" else _ALL_FNS
        for out, (fn, _col) in aggs.items():
            if fn not in allowed:
                raise ValueError(
                    f"{out}: {fn} is not maintainable under strategy="
                    f"{strategy!r} ({fn} is not subtractable — use "
                    "strategy='recompute' or 'hybrid')"
                    if strategy == "delta" and fn in _ALL_FNS
                    else f"{out}: unsupported aggregate {fn!r}"
                )
        if candidates_per_group < 1:
            raise ValueError("candidates_per_group must be >= 1")
        self.k = int(candidates_per_group)
        bad = [c for c in group_cols if c in aggs]
        if bad:
            raise ValueError(f"grouping columns also named as aggregates: {bad}")
        self.group_cols = list(group_cols)
        self.aggs = dict(aggs)
        self.strategy = strategy
        super().__init__(spark, root, sink, {
            "state": None,
            "strategy": strategy,
            "k": self.k if strategy == "hybrid" else None,
        })

    def _check_reopen(self) -> None:
        if self._manifest.get("strategy") != self.strategy:
            raise ValueError(
                f"view at {self.root} was materialized with strategy="
                f"{self._manifest.get('strategy')!r}; reopen with that"
            )
        if self.strategy == "hybrid" and self._manifest.get("k") not in (None, self.k):
            # candidate arrays in the stored state were truncated at the
            # recorded k; a different bound would corrupt the invariant
            raise ValueError(
                f"view at {self.root} was materialized with "
                f"candidates_per_group={self._manifest.get('k')}; reopen with that"
            )

    # ----- public surface ---------------------------------------------------

    def read(self) -> DataFrame:
        """Finalized view state as of ``last_epoch``."""
        raw = self._read_raw()
        if raw is None:
            raise ValueError("view has never been refreshed")
        if self.strategy == "recompute":
            return raw.select(*self.group_cols, *self.aggs)
        sel = [F.col(c) for c in self.group_cols]
        for out, (fn, _col) in self.aggs.items():
            if fn == "count":
                sel.append(F.col(_CNT).alias(out))
            elif fn == "sum":
                sel.append(
                    F.when(F.col(f"_nn_{out}") > 0, F.col(f"_sum_{out}"))
                    .alias(out)
                )
            elif fn == "avg":  # running sum / running non-null count
                sel.append(
                    F.when(
                        F.col(f"_nn_{out}") > 0,
                        F.col(f"_sum_{out}") / F.col(f"_nn_{out}"),
                    ).alias(out)
                )
            else:  # min/max (hybrid): head of the sorted candidate array
                sel.append(
                    F.when(
                        F.col(f"_nn_{out}") > 0,
                        F.element_at(F.col(f"_cand_{out}"), 1)["v"],
                    ).alias(out)
                )
        return raw.select(*sel)

    def _fold(self, changes: DataFrame, to_epoch: int) -> tuple[dict, dict]:
        if self.strategy == "delta":
            state = self._delta_state(changes)
        elif self.strategy == "hybrid":
            state = self._hybrid_state(changes, to_epoch)
        else:
            state = self._recompute_state(changes, to_epoch)
        rel = unique_rel(f"state_e{to_epoch}")
        state.write.parquet(os.path.join(self.root, rel))
        return {"state": rel}, {}

    def _live_rels(self) -> set[str]:
        return {self._manifest["state"]}

    # ----- strategies -------------------------------------------------------

    @staticmethod
    def _sign():
        return F.when(
            F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
        ).otherwise(F.lit(-1))

    def _numeric_accumulators(self) -> list[str]:
        """Hidden signed-counter columns: _CNT, and per agg _sum/_nn for
        sum/avg or _nn alone for min/max (hybrid tracks live non-null
        counts to detect candidate exhaustion)."""
        cols = [_CNT]
        for out, (fn, _col) in self.aggs.items():
            if fn == "count":
                continue
            if fn in ("sum", "avg"):
                cols.append(f"_sum_{out}")
            cols.append(f"_nn_{out}")
        return cols

    def _delta_numeric(self, changes: DataFrame, prior: DataFrame | None) -> DataFrame:
        sign = self._sign()
        contrib = [F.col(c) for c in self.group_cols]
        contrib.append(sign.alias(_CNT))
        for out, (fn, col) in self.aggs.items():
            if fn == "count":
                continue  # row count is _CNT
            val = F.col(col)
            if fn in ("sum", "avg"):
                contrib.append(
                    F.when(val.isNotNull(), sign * val).otherwise(F.lit(0)).alias(
                        f"_sum_{out}"
                    )
                )
            contrib.append(
                F.when(val.isNotNull(), sign).otherwise(F.lit(0)).alias(
                    f"_nn_{out}"
                )
            )
        merged = changes.select(*contrib)
        if prior is not None:
            prior_num = prior.select(*self.group_cols, *self._numeric_accumulators())
            merged = prior_num.unionByName(merged)
        acc = [F.sum(c).alias(c) for c in self._numeric_accumulators()]
        # groups whose live-row count reached 0 leave the view
        return merged.groupBy(*self.group_cols).agg(*acc).filter(F.col(_CNT) > 0)

    def _delta_state(self, changes: DataFrame) -> DataFrame:
        return self._delta_numeric(changes, self._read_raw())

    def _hybrid_state(self, changes: DataFrame, to_epoch: int) -> DataFrame:
        """count/sum/avg evolve as ``delta``; each min/max agg maintains a
        per-group bounded candidate multiset ``_cand_{out}``:
        array<struct<v,n>> of the k best live (value, multiplicity)
        pairs, sorted best-first, plus a displacement bound
        ``_ub_{out}``. Invariant: every live non-null value NOT in the
        candidate array is no better than the bound (null bound = no
        value was ever displaced, i.e. the array is exhaustive). The
        head candidate is therefore the true extreme whenever it is
        within the bound; exhaustion or a bound crossing recomputes
        ONLY the affected groups from the base (null-safe semi-join).
        Per-group work is bounded: each group contributes at most
        k + its-own-changes rows to the candidate merge."""
        from pyspark.sql.types import ArrayType, LongType, StructField, StructType

        prior = self._read_raw()
        state = self._delta_numeric(changes, prior)
        sign = self._sign()
        base = None
        for out, (fn, col) in self.aggs.items():
            if fn not in _MINMAX:
                continue
            asc = fn == "min"
            vtype = changes.schema[col].dataType
            cand_t = ArrayType(
                StructType(
                    [StructField("v", vtype), StructField("n", LongType())]
                )
            )
            d = changes.filter(F.col(col).isNotNull()).select(
                *self.group_cols,
                F.col(col).alias("v"),
                sign.cast("long").alias("n"),
            )
            has_prior = prior is not None and f"_cand_{out}" in prior.columns
            if has_prior:
                pri = prior.select(
                    *self.group_cols, F.explode(F.col(f"_cand_{out}")).alias("_e")
                ).select(
                    *self.group_cols,
                    F.col("_e.v").alias("v"),
                    F.col("_e.n").alias("n"),
                )
                d = pri.unionByName(d)
            # merge the multisets; n<=0 rows are retractions of values
            # already displaced out of the window — by the invariant they
            # are no better than the bound and their counts live in _nn,
            # so dropping them is safe
            lvl1 = (
                d.groupBy(*self.group_cols, "v")
                .agg(F.sum("n").alias("n"))
                .filter(F.col("n") > 0)
            )
            lvl2, kept, cut = self._candidates(lvl1, asc, "_arr")
            if has_prior:
                ub_df = prior.select(
                    *[F.col(c).alias(f"_ug_{c}") for c in self.group_cols],
                    F.col(f"_ub_{out}").alias("_old_ub"),
                )
                lvl2 = lvl2.join(
                    ub_df, self._eq_nullsafe(lvl2, "_ug_"), "left"
                ).drop(*[f"_ug_{c}" for c in self.group_cols])
            else:
                lvl2 = lvl2.withColumn("_old_ub", F.lit(None).cast(vtype))
            # least/greatest skip nulls: the old bound survives an
            # untruncated merge, and a first truncation sets the bound
            new_ub = (F.least if asc else F.greatest)(F.col("_old_ub"), cut)
            head = F.element_at(kept, 1)["v"]
            crossed = (head > new_ub) if asc else (head < new_ub)
            cand_df = lvl2.select(
                *[F.col(c).alias(f"_cg_{c}") for c in self.group_cols],
                kept.alias("_kept"),
                new_ub.alias("_nub"),
                (new_ub.isNotNull() & crossed).alias("_crossed"),
            )
            state = (
                state.join(cand_df, self._eq_nullsafe(state, "_cg_"), "left")
                .drop(*[f"_cg_{c}" for c in self.group_cols])
                .withColumn(
                    f"_cand_{out}",
                    F.coalesce(F.col("_kept"), F.lit(None).cast(cand_t)),
                )
                .withColumn(f"_ub_{out}", F.col("_nub"))
                .withColumn(
                    f"_fix_{out}",
                    F.coalesce(F.col("_crossed"), F.lit(False))
                    | (
                        (F.coalesce(F.size(f"_cand_{out}"), F.lit(0)) == 0)
                        & (F.col(f"_nn_{out}") > 0)
                    ),
                )
                .drop("_kept", "_nub", "_crossed")
            )
            if base is None:
                base = self.sink.read_as_of(to_epoch)
            flagged = (
                state.filter(F.col(f"_fix_{out}"))
                .select(
                    *[F.col(c).alias(f"_fg_{c}") for c in self.group_cols]
                )
                .distinct()
            )
            f_lvl1 = (
                base.join(flagged, self._eq_nullsafe(base, "_fg_"), "left_semi")
                .filter(F.col(col).isNotNull())
                .groupBy(*self.group_cols, F.col(col).alias("v"))
                .agg(F.count(F.lit(1)).alias("n"))
            )
            f_lvl2, f_kept, f_ub = self._candidates(f_lvl1, asc, "_farr")
            fixed = f_lvl2.select(
                *[F.col(c).alias(f"_fx_{c}") for c in self.group_cols],
                f_kept.alias("_fcand"),
                f_ub.alias("_fub"),
            )
            state = (
                state.join(fixed, self._eq_nullsafe(state, "_fx_"), "left")
                .drop(*[f"_fx_{c}" for c in self.group_cols])
                .withColumn(
                    f"_cand_{out}",
                    F.when(
                        F.col(f"_fix_{out}"),
                        F.coalesce(F.col("_fcand"), F.lit(None).cast(cand_t)),
                    ).otherwise(F.col(f"_cand_{out}")),
                )
                .withColumn(
                    f"_ub_{out}",
                    F.when(F.col(f"_fix_{out}"), F.col("_fub")).otherwise(
                        F.col(f"_ub_{out}")
                    ),
                )
                .drop("_fcand", "_fub", f"_fix_{out}")
            )
        return state

    def _candidates(self, multiset: DataFrame, asc: bool, name: str):
        """Group ``(group_cols, v, n)`` rows into one array column
        ``name`` per group, sorted best-first. Returns the grouped
        frame, the array's first k candidates, and the value of the
        last kept candidate when the array is longer than k (the new
        displacement bound), else null."""
        arr = F.array_sort(F.collect_list(F.struct(F.col("v"), F.col("n"))))
        grouped = multiset.groupBy(*self.group_cols).agg(
            (arr if asc else F.reverse(arr)).alias(name)
        )
        kept = F.slice(F.col(name), 1, self.k)
        cut = F.when(F.size(F.col(name)) > self.k, F.element_at(kept, -1)["v"])
        return grouped, kept, cut

    def _eq_nullsafe(self, left: DataFrame, prefix: str):
        cond = None
        for c in self.group_cols:
            eq = left[c].eqNullSafe(F.col(f"{prefix}{c}"))
            cond = eq if cond is None else (cond & eq)
        return cond

    def _recompute_state(self, changes: DataFrame, to_epoch: int) -> DataFrame:
        # pre- and post-image rows both appear in `changes`, so a key that
        # migrated between groups dirties BOTH its old and new group.
        # The dirty side is aliased: base/prior read the same parquet
        # files the changelog does, and shared attribute ids would make
        # an unaliased self-join condition ambiguous.
        dirty = changes.select(
            *[F.col(c).alias(f"_dirty_{c}") for c in self.group_cols]
        ).distinct()
        base = self.sink.read_as_of(to_epoch)
        exprs = []
        for out, (fn, col) in self.aggs.items():
            if fn == "count":
                exprs.append(F.count(F.lit(1)).alias(out))
            else:
                exprs.append(getattr(F, fn)(F.col(col)).alias(out))
        fresh = (
            base.join(dirty, self._eq_nullsafe(base, "_dirty_"), "left_semi")
            .groupBy(*self.group_cols)
            .agg(*exprs)
        )
        prior = self._read_raw()
        if prior is None:
            return fresh
        kept = prior.join(dirty, self._eq_nullsafe(prior, "_dirty_"), "left_anti")
        return kept.unionByName(fresh)

    # ----- state -------------------------------------------------------------

    def _read_raw(self) -> DataFrame | None:
        rel = self._manifest["state"]
        if rel is None:
            return None
        return self.spark.read.parquet(os.path.join(self.root, rel))
