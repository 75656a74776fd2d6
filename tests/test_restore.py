"""RESTORE / rollback-to-snapshot (N25): roll the table back to a
committed epoch's state as a NEW snapshot — Delta ``RESTORE TABLE ...
VERSION AS OF`` / Iceberg ``rollback_to_snapshot`` analogue. History is
append-only (rolled-back epochs stay auditable and time-travel readable
until vacuum); the restore itself is metadata-only (one manifest CAS, no
data pass); the changelog across the restore emits the exact reverting
changes, so every derived state (N20-N23) rolls back by plain refresh."""

import pytest
from pyspark.sql import functions as F

from kafka_connect_converter_json_spark.streaming.sink import (
    BucketedMergeSink,
    classify_state_diff,
)


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _mk_batch(spark, ids, lsn0, op="u", n_repos=5, score_of=None):
    rows = [
        (
            f"repo-{i % n_repos:04d}",
            f"f_{i:05d}",
            lsn0 + j,
            op,
            (score_of(i) if score_of else i * 10),
        )
        for j, i in enumerate(ids)
    ]
    return spark.createDataFrame(
        rows, "repo string, path string, lsn long, op string, score long"
    )


def _sink(spark, root, mode, num_buckets=4):
    return BucketedMergeSink(
        spark, str(root), keys=["repo", "path"], num_buckets=num_buckets,
        merge_mode=mode, compact_every=None,
    )


def _three_epochs(spark, sink):
    sink.merge(_mk_batch(spark, range(60), 0), 1)
    sink.merge(_mk_batch(spark, range(30, 90), 100, score_of=lambda i: i * 7), 2)
    sink.merge(_mk_batch(spark, range(0, 20), 200, op="d"), 3)


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_restore_matches_as_of_and_keeps_history(spark, tmp_path, mode):
    sink = _sink(spark, tmp_path / "s", mode)
    _three_epochs(spark, sink)
    as_of_1 = _rows(sink.read_as_of(1))
    as_of_3 = _rows(sink.read_as_of(3))
    assert as_of_1 != as_of_3

    res = sink.restore(1, as_epoch=100)
    assert res["restored_to"] == 1 and res["epoch"] == 100

    # current state IS the restored snapshot, and the new snapshot id
    # time-travels to the same rows
    assert _rows(sink.read()) == as_of_1
    assert _rows(sink.read_as_of(100)) == as_of_1
    # history is append-only: the rolled-back epochs stay readable
    assert _rows(sink.read_as_of(3)) == as_of_3
    assert sink.committed_epochs() == {1, 2, 3, 100}

    hist = {r.epoch: r for r in sink.history().collect()}
    assert hist[100].n_events == 0  # no events merged by a restore
    maint = [r.op for r in sink.maintenance_log().collect()]
    assert "restore" in maint

    # a reopened sink adopts the restored state
    again = BucketedMergeSink.open(spark, str(tmp_path / "s"))
    assert _rows(again.read()) == as_of_1


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_restore_then_continue_ingesting(spark, tmp_path, mode):
    """merge() after a restore builds on the RESTORED state — parity with
    a twin that never saw the rolled-back epochs."""
    sink = _sink(spark, tmp_path / "s", mode)
    twin = _sink(spark, tmp_path / "twin", mode)
    _three_epochs(spark, sink)
    sink.restore(1, as_epoch=100)

    b4 = _mk_batch(spark, range(40, 70), 300, score_of=lambda i: i + 1)
    twin.merge(_mk_batch(spark, range(60), 0), 1)
    twin.merge(b4, 2)
    sink.merge(b4, 101)

    assert _rows(sink.read()) == _rows(twin.read())
    # point lookup still lands in the right bucket post-restore
    assert _rows(sink.read_key("repo-0001", "f_00041")) == _rows(
        sink.read().filter((F.col("repo") == "repo-0001") & (F.col("path") == "f_00041"))
    )


def test_restore_changelog_reverts_mor_equals_cow(spark, tmp_path):
    """read_changes across the restore boundary must emit the reverting
    changes, identically in both sink modes, and a post-restore range
    must classify only the new epoch."""
    sinks = {}
    for mode in ("mor", "cow"):
        s = _sink(spark, tmp_path / mode, mode)
        _three_epochs(spark, s)
        s.restore(1, as_epoch=100)
        s.merge(_mk_batch(spark, range(55, 65), 300), 101)
        sinks[mode] = s

    for frm, to in [(2, 100), (3, 100), (None, 100), (100, 101), (1, 101)]:
        got = {
            m: _rows(s.read_changes(to_epoch=to, from_epoch=frm))
            for m, s in sinks.items()
        }
        assert got["mor"] == got["cow"], f"range ({frm}, {to}]"

    # independent expectation for the pure revert range (3 -> 100): the
    # e3 deletes come back as inserts, the e2 score updates revert
    s = sinks["cow"]
    expected = _rows(
        classify_state_diff(
            s.read_as_of(3), s.read_as_of(1), ["repo", "path"], "lsn"
        )
    )
    assert _rows(s.read_changes(to_epoch=100, from_epoch=3)) == expected
    types = {
        r._change_type
        for r in s.read_changes(to_epoch=100, from_epoch=3).collect()
    }
    assert "insert" in types  # deleted keys resurrected by the rollback


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_restore_validation_and_idempotency(spark, tmp_path, mode):
    sink = _sink(spark, tmp_path / "s", mode)
    _three_epochs(spark, sink)

    with pytest.raises(ValueError, match="not committed"):
        sink.restore(42, as_epoch=100)
    with pytest.raises(ValueError, match="must exceed"):
        sink.restore(1, as_epoch=0)  # non-monotone snapshot id
    # an as_epoch already committed (as anything) is the merge()-style
    # redelivery no-op, NOT an error
    assert sink.restore(1, as_epoch=3) == {"epoch": 3, "skipped": True}

    assert sink.restore(1, as_epoch=100)["restored_to"] == 1
    # redelivered restore: committed no-op
    assert sink.restore(1, as_epoch=100) == {"epoch": 100, "skipped": True}

    sink.vacuum()  # kills time travel below the latest epoch
    with pytest.raises(ValueError, match="vacuum"):
        sink.restore(2, as_epoch=200)


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_restore_across_rebucket_restores_bucket_count(spark, tmp_path, mode):
    """Restoring to a snapshot written under an older bucket count must
    restore the count with it (layout and _bucket_expr stay consistent),
    and a WAP epoch staged under the newer layout then refuses at
    publish exactly as across a rebucket."""
    sink = _sink(spark, tmp_path / "s", mode, num_buckets=4)
    sink.merge(_mk_batch(spark, range(60), 0), 1)
    as_of_1 = _rows(sink.read_as_of(1))
    sink.rebucket(16)
    sink.merge(_mk_batch(spark, range(30, 90), 100), 2)
    sink.stage(_mk_batch(spark, range(5), 500), 50)

    res = sink.restore(1, as_epoch=100)
    assert res["num_buckets"] == 4 and sink.num_buckets == 4
    assert _rows(sink.read()) == as_of_1
    assert _rows(sink.read_key("repo-0001", "f_00011")) == _rows(
        sink.read().filter((F.col("repo") == "repo-0001") & (F.col("path") == "f_00011"))
    )
    with pytest.raises(ValueError, match="rebucket"):
        sink.publish(50)  # staged under num_buckets=16, table is back at 4

    # reopen adopts the restored count; ingest continues under it
    again = BucketedMergeSink.open(spark, str(tmp_path / "s"))
    assert again.num_buckets == 4
    again.merge(_mk_batch(spark, range(10, 20), 600), 101)
    assert again.read().count() == 60


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_vacuum_after_restore_keeps_current_state(spark, tmp_path, mode):
    sink = _sink(spark, tmp_path / "s", mode)
    _three_epochs(spark, sink)
    as_of_3 = _rows(sink.read_as_of(3))
    sink.restore(1, as_epoch=100)
    # epoch ids 1, 2, 3, 100 have a gap: keeping 2 snapshots keeps 3 and
    # 100, so epoch 3 must stay time-travel readable and not be flagged
    sink.vacuum(keep_epochs=2)
    vacuumed = {r.epoch: r.vacuumed for r in sink.history().collect()}
    assert vacuumed[2] and not vacuumed[3] and not vacuumed[100]
    assert _rows(sink.read_as_of(3)) == as_of_3
    before = _rows(sink.read())
    removed = sink.vacuum()
    # the rolled-back epochs' unique files are unreachable now
    assert removed
    assert _rows(sink.read()) == before


def test_incremental_view_rolls_back_by_refresh(spark, tmp_path):
    """The N20 view consumes the reverting changelog: refresh past the
    restore snapshot must reproduce a full groupBy of the restored
    table — derived state needs no special rollback machinery."""
    from kafka_connect_converter_json_spark.streaming.view import IncrementalAggView

    sink = _sink(spark, tmp_path / "s", "mor")
    view = IncrementalAggView(
        spark, str(tmp_path / "v"), sink, group_cols=["repo"],
        aggs={"n": ("count", None), "total": ("sum", "score")},
        strategy="delta",
    )
    _three_epochs(spark, sink)
    view.refresh(3)
    sink.restore(1, as_epoch=100)
    view.refresh(100)

    expected = _rows(
        sink.read().groupBy("repo").agg(
            F.count(F.lit(1)).alias("n"), F.sum("score").alias("total")
        )
    )
    assert _rows(view.read().select("repo", "n", "total")) == expected


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_read_key_as_of_time_travel(spark, tmp_path, mode):
    """Snapshot point lookup ≡ read_as_of().filter at every epoch —
    including one where the key is deleted (empty result) and one
    after a restore."""
    sink = _sink(spark, tmp_path / "s", mode)
    _three_epochs(spark, sink)  # key (repo-0000, f_00005) deleted in e3
    sink.restore(1, as_epoch=100)
    key = ("repo-0000", "f_00005")
    for e in (1, 2, 3, 100):
        got = _rows(sink.read_key(*key, as_of=e))
        exp = _rows(
            sink.read_as_of(e).filter(
                (F.col("repo") == key[0]) & (F.col("path") == key[1])
            )
        )
        assert got == exp, f"as_of={e}"
    assert _rows(sink.read_key(*key, as_of=3)) == []  # deleted at e3
    assert _rows(sink.read_key(*key, as_of=100)) != []  # resurrected


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_read_key_as_of_probes_snapshot_bucket_count(spark, tmp_path, mode):
    """A lookup at a pre-rebucket snapshot must hash with THAT layout's
    bucket count — probing with the live count would read the wrong
    bucket dir and silently return nothing."""
    sink = _sink(spark, tmp_path / "s", mode, num_buckets=4)
    sink.merge(_mk_batch(spark, range(60), 0), 1)
    sink.rebucket(16)
    sink.merge(_mk_batch(spark, range(30, 90), 100), 2)
    for i in range(0, 60, 7):  # several keys => several old-layout buckets
        key = (f"repo-{i % 5:04d}", f"f_{i:05d}")
        got = _rows(sink.read_key(*key, as_of=1))
        exp = _rows(
            sink.read_as_of(1).filter(
                (F.col("repo") == key[0]) & (F.col("path") == key[1])
            )
        )
        assert got == exp and len(got) == 1, f"key {key}"


def test_read_key_as_of_refusals(spark, tmp_path):
    sink = _sink(spark, tmp_path / "s", "cow")
    _three_epochs(spark, sink)
    with pytest.raises(ValueError, match="not committed"):
        sink.read_key("repo-0000", "f_00005", as_of=42)
    sink.vacuum()  # old snapshot files gone
    with pytest.raises(ValueError, match="vacuum"):
        sink.read_key("repo-0000", "f_00005", as_of=1).collect()


def test_read_prefix_as_of(spark, tmp_path):
    sink = BucketedMergeSink(
        spark, str(tmp_path / "s"), keys=["repo", "path"], num_buckets=4,
        merge_mode="mor", bucket_cols=["repo"], compact_every=None,
    )
    _three_epochs(spark, sink)
    got = _rows(sink.read_prefix("repo-0002", as_of=2))
    exp = _rows(sink.read_as_of(2).filter(F.col("repo") == "repo-0002"))
    assert got == exp and len(got) > 0
