"""Incremental materialized-view maintenance (streaming/view.py, N20)
and the update_preimage changelog extension it consumes."""

import pytest

from pyspark.sql import functions as F

from kafka_connect_converter_json_spark.streaming.sink import BucketedMergeSink
from kafka_connect_converter_json_spark.streaming.view import IncrementalAggView


def _sink(spark, tmp_path, mode, **kw):
    return BucketedMergeSink(
        spark, str(tmp_path / f"sink_{mode}"), keys=["k"], order_col="lsn",
        num_buckets=4, merge_mode=mode, **kw,
    )


def _batch(spark, rows):
    return spark.createDataFrame(rows, "k string, lsn long, op string, g string, v long")


# epoch 0: three groups, one null value; epoch 1: update within group,
# update MIGRATING groups, insert; epoch 2: delete + update; epoch 3:
# delete emptying a whole group
EPOCHS = [
    [("k1", 1, "u", "a", 10), ("k2", 2, "u", "a", 20),
     ("k3", 3, "u", "b", 5), ("k4", 4, "u", "c", None)],
    [("k1", 5, "u", "a", 11), ("k3", 6, "u", "a", 7), ("k5", 7, "u", "b", 30)],
    [("k2", 8, "d", None, None), ("k5", 9, "u", "b", 31)],
    [("k4", 10, "d", None, None)],
]


def _load(spark, sink, upto=None):
    for e, rows in enumerate(EPOCHS):
        if upto is not None and e > upto:
            break
        sink.merge(_batch(spark, rows), epoch=e)


def _expected(spark, sink, epoch):
    return (
        sink.read_as_of(epoch)
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("sv"),
            F.avg("v").alias("av"),
        )
    )


def _rows(df):
    return sorted(
        tuple(r) for r in df.select("g", "n", "sv", "av").collect()
    )


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_update_preimage_rows(spark, tmp_path, mode):
    sink = _sink(spark, tmp_path, mode)
    _load(spark, sink, upto=1)
    ch = sink.read_changes(1, from_epoch=0, include_preimages=True)
    got = {(r.k, r._change_type, r.g, r.v, r.lsn) for r in ch.collect()}
    assert got == {
        ("k1", "update_postimage", "a", 11, 5),
        ("k1", "update_preimage", "a", 10, 1),
        ("k3", "update_postimage", "a", 7, 6),   # migrated b -> a
        ("k3", "update_preimage", "b", 5, 3),    # old group visible
        ("k5", "insert", "b", 30, 7),
    }
    # default shape unchanged: no preimage rows
    plain = {r._change_type for r in sink.read_changes(1, from_epoch=0).collect()}
    assert plain == {"update_postimage", "insert"}


@pytest.mark.parametrize("mode", ["cow", "mor"])
@pytest.mark.parametrize("strategy", ["delta", "recompute"])
def test_view_matches_full_groupby_each_epoch(spark, tmp_path, mode, strategy):
    sink = _sink(spark, tmp_path, mode)
    view = IncrementalAggView(
        spark, str(tmp_path / f"view_{mode}_{strategy}"), sink,
        group_cols=["g"],
        aggs={"n": ("count", None), "sv": ("sum", "v"), "av": ("avg", "v")},
        strategy=strategy,
    )
    for e, rows in enumerate(EPOCHS):
        sink.merge(_batch(spark, rows), epoch=e)
        out = view.refresh()
        assert out["refreshed"] and out["last_epoch"] == e
        assert _rows(view.read()) == _rows(_expected(spark, sink, e))
    # group 'c' emptied by epoch 3's delete — gone, not zero
    assert "c" not in {r.g for r in view.read().collect()}


@pytest.mark.parametrize("strategy", ["delta", "recompute"])
def test_refresh_is_idempotent_and_monotone(spark, tmp_path, strategy):
    sink = _sink(spark, tmp_path, "mor")
    _load(spark, sink)
    view = IncrementalAggView(
        spark, str(tmp_path / f"view_idem_{strategy}"), sink,
        group_cols=["g"], aggs={"n": ("count", None), "sv": ("sum", "v")},
        strategy=strategy,
    )
    view.refresh(to_epoch=1)
    before = _r2(view.read())
    assert view.refresh(to_epoch=1) == {"refreshed": False, "last_epoch": 1}
    assert view.refresh(to_epoch=0) == {"refreshed": False, "last_epoch": 1}
    assert _r2(view.read()) == before
    view.refresh(to_epoch=3)
    assert _r2(view.read()) == _r2(
        sink.read_as_of(3).groupBy("g").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
    )


def _r2(df):
    return sorted(tuple(r) for r in df.select("g", "n", "sv").collect())


def test_delta_refuses_min_max(spark, tmp_path):
    sink = _sink(spark, tmp_path, "mor")
    with pytest.raises(ValueError, match="not subtractable"):
        IncrementalAggView(
            spark, str(tmp_path / "v"), sink, ["g"],
            {"m": ("min", "v")}, strategy="delta",
        )


def test_recompute_min_max_across_deletes(spark, tmp_path):
    """min/max must recover when their current extreme is deleted —
    exactly the case delta maintenance cannot express."""
    sink = _sink(spark, tmp_path, "mor")
    sink.merge(_batch(spark, [("k1", 1, "u", "a", 100), ("k2", 2, "u", "a", 1)]), epoch=0)
    view = IncrementalAggView(
        spark, str(tmp_path / "view_mm"), sink, ["g"],
        {"mx": ("max", "v"), "mn": ("min", "v")}, strategy="recompute",
    )
    view.refresh()
    assert [(r.mx, r.mn) for r in view.read().collect()] == [(100, 1)]
    sink.merge(_batch(spark, [("k1", 3, "d", None, None)]), epoch=1)
    view.refresh()
    assert [(r.mx, r.mn) for r in view.read().collect()] == [(1, 1)]


def test_all_null_group_sums_to_null(spark, tmp_path):
    sink = _sink(spark, tmp_path, "mor")
    _load(spark, sink, upto=0)
    view = IncrementalAggView(
        spark, str(tmp_path / "view_null"), sink, ["g"],
        {"sv": ("sum", "v"), "n": ("count", None)},
    )
    view.refresh()
    row = {r.g: (r.sv, r.n) for r in view.read().collect()}
    assert row["c"] == (None, 1)  # k4's v is NULL: SUM NULL, COUNT 1


@pytest.mark.parametrize("mode", ["cow", "mor"])
@pytest.mark.parametrize("k", [1, 2, 8])
def test_hybrid_matches_full_groupby_each_epoch(spark, tmp_path, mode, k):
    """hybrid ≡ full groupBy for ALL five aggregates at every epoch,
    including min/max over numeric AND string columns, across group
    migration, extreme deletion, and group GC — at k=1/2 the candidate
    window truncates constantly, exercising the bound bookkeeping."""
    sink = _sink(spark, tmp_path, mode)
    view = IncrementalAggView(
        spark, str(tmp_path / f"view_h_{mode}_{k}"), sink,
        group_cols=["g"],
        aggs={
            "n": ("count", None), "sv": ("sum", "v"), "av": ("avg", "v"),
            "mn": ("min", "v"), "mx": ("max", "v"), "mk": ("min", "k"),
        },
        strategy="hybrid", candidates_per_group=k,
    )
    for e, rows in enumerate(EPOCHS):
        sink.merge(_batch(spark, rows), epoch=e)
        view.refresh()
        got = sorted(tuple(r) for r in view.read().collect())
        exp = sorted(
            tuple(r)
            for r in sink.read_as_of(e)
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"),
                F.avg("v").alias("av"), F.min("v").alias("mn"),
                F.max("v").alias("mx"), F.min("k").alias("mk"),
            )
            .select("g", "n", "sv", "av", "mn", "mx", "mk")
            .collect()
        )
        assert got == exp, f"epoch {e}, k={k}, mode={mode}"


def test_hybrid_bound_crossing_recomputes(spark, tmp_path):
    """The displaced-value trap: k=1 tracks only {1} for group a while 3
    lives untracked (bound=1). Deleting 1 and inserting 5 leaves the
    candidate head (5) OUTSIDE the bound — reporting it would be wrong
    (true min is the untracked 3); the bound crossing must trigger the
    localized recompute."""
    sink = _sink(spark, tmp_path, "mor")
    sink.merge(
        _batch(spark, [("k1", 1, "u", "a", 1), ("k2", 2, "u", "a", 3)]), epoch=0
    )
    view = IncrementalAggView(
        spark, str(tmp_path / "view_cross"), sink, ["g"],
        {"mn": ("min", "v"), "n": ("count", None)},
        strategy="hybrid", candidates_per_group=1,
    )
    view.refresh()
    assert [(r.g, r.mn) for r in view.read().collect()] == [("a", 1)]
    sink.merge(
        _batch(spark, [("k1", 3, "d", None, None), ("k3", 4, "u", "a", 5)]),
        epoch=1,
    )
    view.refresh()
    assert [(r.g, r.mn) for r in view.read().collect()] == [("a", 3)]


def test_hybrid_extreme_deletion_falls_to_next_candidate(spark, tmp_path):
    """With k >= live distinct values nothing is ever displaced (bound
    stays null): deleting the current min falls through to the next
    candidate with no recompute trigger."""
    sink = _sink(spark, tmp_path, "mor")
    sink.merge(
        _batch(spark, [("k1", 1, "u", "a", 10), ("k2", 2, "u", "a", 20),
                       ("k3", 3, "u", "a", 30)]), epoch=0
    )
    view = IncrementalAggView(
        spark, str(tmp_path / "view_fall"), sink, ["g"],
        {"mn": ("min", "v"), "mx": ("max", "v")},
        strategy="hybrid", candidates_per_group=8,
    )
    view.refresh()
    sink.merge(_batch(spark, [("k1", 4, "d", None, None)]), epoch=1)
    view.refresh()
    assert [(r.mn, r.mx) for r in view.read().collect()] == [(20, 30)]
    # internal check: the stored state's bound is null (nothing displaced)
    raw = view._read_raw()
    assert [r["_ub_mn"] for r in raw.collect()] == [None]


def test_hybrid_exhaustion_with_all_null_survivors(spark, tmp_path):
    """Candidates empty after retraction while the group still lives on
    null-valued rows: min must finalize to NULL, not recompute-loop."""
    sink = _sink(spark, tmp_path, "mor")
    sink.merge(
        _batch(spark, [("k1", 1, "u", "a", 7), ("k2", 2, "u", "a", None)]),
        epoch=0,
    )
    view = IncrementalAggView(
        spark, str(tmp_path / "view_nullx"), sink, ["g"],
        {"mn": ("min", "v"), "n": ("count", None)},
        strategy="hybrid", candidates_per_group=1,
    )
    view.refresh()
    sink.merge(_batch(spark, [("k1", 3, "d", None, None)]), epoch=1)
    view.refresh()
    assert [(r.g, r.n, r.mn) for r in view.read().collect()] == [("a", 1, None)]


def test_hybrid_k_mismatch_on_reopen(spark, tmp_path):
    sink = _sink(spark, tmp_path, "mor")
    _load(spark, sink, upto=0)
    root = str(tmp_path / "view_k")
    IncrementalAggView(
        spark, root, sink, ["g"], {"mn": ("min", "v")},
        strategy="hybrid", candidates_per_group=4,
    ).refresh()
    with pytest.raises(ValueError, match="candidates_per_group"):
        IncrementalAggView(
            spark, root, sink, ["g"], {"mn": ("min", "v")},
            strategy="hybrid", candidates_per_group=8,
        )


def test_strategy_mismatch_on_reopen(spark, tmp_path):
    sink = _sink(spark, tmp_path, "mor")
    _load(spark, sink, upto=0)
    root = str(tmp_path / "view_s")
    IncrementalAggView(spark, root, sink, ["g"], {"n": ("count", None)}).refresh()
    with pytest.raises(ValueError, match="strategy"):
        IncrementalAggView(
            spark, root, sink, ["g"], {"n": ("count", None)},
            strategy="recompute",
        )
