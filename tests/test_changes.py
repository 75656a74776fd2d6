"""Sink maintenance surfaces: incremental changelog (read_changes) and
bucket-count evolution (rebucket)."""

import pytest

from pyspark.sql import functions as F

from kafka_connect_converter_json_spark.streaming.sink import BucketedMergeSink, NoChanges


def _sink(spark, tmp_path, **kw):
    return BucketedMergeSink(
        spark, str(tmp_path / "sink"), keys=["k"], order_col="lsn",
        num_buckets=4, **kw,
    )


def _batch(spark, rows):
    return spark.createDataFrame(rows, "k string, lsn long, op string, v string")


def test_read_changes_insert_update_delete(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    sink.merge(_batch(spark, [("k1", 1, "u", "a"), ("k2", 2, "u", "b")]), epoch=0)
    sink.merge(_batch(spark, [("k1", 3, "u", "a2"), ("k3", 4, "u", "c")]), epoch=1)
    sink.merge(_batch(spark, [("k2", 5, "d", None)]), epoch=2)

    # epoch 0 vs empty: all inserts
    c0 = {(r.k, r._change_type, r.v) for r in sink.read_changes(0).collect()}
    assert c0 == {("k1", "insert", "a"), ("k2", "insert", "b")}

    c01 = {(r.k, r._change_type, r.v, r.lsn)
           for r in sink.read_changes(1, from_epoch=0).collect()}
    assert c01 == {("k1", "update_postimage", "a2", 3), ("k3", "insert", "c", 4)}

    c12 = {(r.k, r._change_type, r.v) for r in sink.read_changes(2, from_epoch=1).collect()}
    assert c12 == {("k2", "delete", "b")}  # pre-image payload on delete

    # 0 -> 2 composes: k1 updated, k3 inserted, k2 deleted
    c02 = {(r.k, r._change_type) for r in sink.read_changes(2, from_epoch=0).collect()}
    assert c02 == {("k1", "update_postimage"), ("k3", "insert"), ("k2", "delete")}


def test_read_changes_prunes_identical_buckets(spark, tmp_path):
    """A snapshot diffed against itself has no changed buckets — the
    copy-on-write path-identity pruning refuses to scan anything."""
    sink = _sink(spark, tmp_path)
    sink.merge(_batch(spark, [("k1", 1, "u", "a")]), epoch=0)
    with pytest.raises(NoChanges):
        sink.read_changes(0, from_epoch=0)


def test_rebucket_preserves_state_and_layout(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    rows = [(f"k{i}", i, "u", f"v{i}") for i in range(40)]
    sink.merge(_batch(spark, rows), epoch=0)
    before = sorted(tuple(r) for r in sink.read().select("k", "lsn", "v").collect())

    out = sink.rebucket(16)
    assert out["rebucketed"] and sink.num_buckets == 16
    after = sorted(tuple(r) for r in sink.read().select("k", "lsn", "v").collect())
    assert after == before

    # merging continues under the new layout
    sink.merge(_batch(spark, [("k1", 100, "u", "new"), ("kx", 101, "u", "x")]), epoch=1)
    final = {r.k: r.v for r in sink.read().collect()}
    assert final["k1"] == "new" and final["kx"] == "x" and len(final) == 41

    # open() adopts the evolved layout; the stale count is a hard error
    reopened = BucketedMergeSink.open(spark, str(tmp_path / "sink"))
    assert reopened.num_buckets == 16
    with pytest.raises(ValueError, match="num_buckets"):
        BucketedMergeSink(spark, str(tmp_path / "sink"), keys=["k"],
                          order_col="lsn", num_buckets=4)


def test_rebucket_noop_and_vacuum_reclaims_old_layout(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    sink.merge(_batch(spark, [(f"k{i}", i, "u", "v") for i in range(20)]), epoch=0)
    assert sink.rebucket(4) == {"rebucketed": False, "num_buckets": 4}
    sink.rebucket(8)
    removed = sink.vacuum()
    assert any(rel.startswith("data/e") for rel in removed)  # old layout gone
    assert sink.read().count() == 20  # current layout intact

def test_sort_within_buckets_clusters_files(spark, tmp_path):
    """SORTED BY analogue: with the option on, each bucket file's rows
    are ordered by the merge keys, so parquet row-group min/max stats
    support key-predicate skipping."""
    import glob

    import pyarrow.parquet as pq

    sink = BucketedMergeSink(
        spark, str(tmp_path / "sorted"), keys=["k"], order_col="lsn",
        num_buckets=2, sort_within_buckets=True,
    )
    rows = [(f"k{i:03d}", i, "u", "v") for i in reversed(range(60))]
    sink.merge(_batch(spark, rows), epoch=0)
    files = glob.glob(str(tmp_path / "sorted" / "data" / "*" / "_bucket=*" / "*.parquet"))
    assert files
    for f in files:
        ks = pq.read_table(f, columns=["k"]).column("k").to_pylist()
        assert ks == sorted(ks), f
    # state unaffected by the clustering
    assert sink.read().count() == 60


def test_changelog_maintains_downstream_aggregate(spark, tmp_path):
    """The medallion pattern: a downstream per-key-prefix aggregate
    maintained ONLY from read_changes deltas must equal recomputing it
    from the full table at every epoch — proof the changelog carries
    sufficient information (inserts, post-images, deletes with
    pre-image payloads)."""
    sink = _sink(spark, tmp_path)
    epochs = [
        [("a1", 1, "u", "x"), ("a2", 2, "u", "y"), ("b1", 3, "u", "z")],
        [("a1", 4, "u", "x2"), ("b2", 5, "u", "w")],   # update + insert
        [("a2", 6, "d", None), ("b1", 7, "u", "z2")],  # delete + update
    ]
    # downstream state: prefix -> row count (letter of k = the "repo")
    downstream: dict = {}
    for e, batch in enumerate(epochs):
        sink.merge(_batch(spark, batch), epoch=e)
        changes = sink.read_changes(e, from_epoch=e - 1 if e else None)
        for r in changes.collect():
            pfx = r.k[0]
            if r._change_type == "insert":
                downstream[pfx] = downstream.get(pfx, 0) + 1
            elif r._change_type == "delete":
                downstream[pfx] -= 1
        # ground truth from the full table
        truth: dict = {}
        for r in sink.read().select("k").collect():
            truth[r.k[0]] = truth.get(r.k[0], 0) + 1
        assert {k: v for k, v in downstream.items() if v} == truth, f"epoch {e}"


def test_read_changes_mor_matches_cow(spark, tmp_path):
    """The MOR changelog (range deltas classified against the pruned
    prior snapshot) must emit exactly what the COW path-diff emits for
    the same event stream — inserts, updates, deletes with pre-image,
    composition across epochs, and delete-of-absent-key suppression."""
    batches = [
        [("k1", 1, "u", "a"), ("k2", 2, "u", "b")],
        [("k1", 3, "u", "a2"), ("k3", 4, "u", "c"), ("kx", 5, "d", None)],
        [("k2", 6, "d", None), ("k3", 7, "u", "c2")],
    ]
    cow = BucketedMergeSink(spark, str(tmp_path / "c"), keys=["k"],
                            order_col="lsn", num_buckets=4)
    mor = BucketedMergeSink(spark, str(tmp_path / "m"), keys=["k"],
                            order_col="lsn", num_buckets=4, merge_mode="mor")
    for e, rows in enumerate(batches):
        cow.merge(_batch(spark, rows), epoch=e)
        mor.merge(_batch(spark, rows), epoch=e)

    def chg(sink, to, frm):
        df = sink.read_changes(to, from_epoch=frm)
        return sorted((r.k, r._change_type, r.v, r.lsn) for r in df.collect())

    for to, frm in [(0, None), (1, 0), (2, 1), (2, 0), (2, None)]:
        assert chg(mor, to, frm) == chg(cow, to, frm), (to, frm)
    assert mor.read_changes(1, from_epoch=0).columns == \
        cow.read_changes(1, from_epoch=0).columns


def test_read_changes_mor_compaction_straddling_range(spark, tmp_path):
    """A range a compact() landed inside can't be served from deltas
    (they were folded into the base) — the changelog must fall back to
    diffing the two as-of snapshot states and still emit exactly what a
    COW twin over the same stream emits. With auto-compaction on by
    default, every long-lived changelog consumer hits this path."""
    batches = [
        [("k1", 1, "u", "a"), ("k2", 2, "u", "b")],
        [("k1", 3, "u", "a2"), ("k3", 4, "u", "c")],
        [("k2", 5, "d", None), ("k4", 6, "u", "e")],
    ]
    mor = BucketedMergeSink(spark, str(tmp_path / "mc"), keys=["k"],
                            order_col="lsn", num_buckets=4, merge_mode="mor",
                            compact_every=None)
    cow = BucketedMergeSink(spark, str(tmp_path / "cc"), keys=["k"],
                            order_col="lsn", num_buckets=4, merge_mode="cow")
    for e, rows in enumerate(batches[:2]):
        mor.merge(_batch(spark, rows), epoch=e)
        cow.merge(_batch(spark, rows), epoch=e)
    mor.compact()  # folds e0-e1 deltas; range (0, 2] now straddles it
    mor.merge(_batch(spark, batches[2]), epoch=2)
    cow.merge(_batch(spark, batches[2]), epoch=2)

    def chg(sink, to, frm):
        df = sink.read_changes(to, from_epoch=frm)
        return sorted((r.k, r._change_type, r.v, r.lsn) for r in df.collect())

    for to, frm in [(2, 0), (2, 1)]:
        assert chg(mor, to, frm) == chg(cow, to, frm), (to, frm)
    # identical snapshots still refuse
    with pytest.raises(NoChanges):
        mor.read_changes(2, from_epoch=2)
    # vacuumed-away snapshots still refuse
    mor.vacuum()
    with pytest.raises(ValueError, match="vacuum"):
        mor.read_changes(1, from_epoch=0)


def test_read_changes_mor_across_schema_evolution(spark, tmp_path):
    """A payload column added between epochs (additive widening) must
    flow through the MOR changelog: pre-evolution rows read the new
    column as null, post-evolution rows carry it — same as COW."""
    def batch(rows, ddl):
        return spark.createDataFrame(rows, ddl)

    sinks = {}
    for mode, d in (("cow", "c"), ("mor", "m")):
        s = BucketedMergeSink(spark, str(tmp_path / d), keys=["k"],
                              order_col="lsn", num_buckets=4, merge_mode=mode)
        s.merge(batch([("k1", 1, "u", "a")], "k string, lsn long, op string, v string"), epoch=0)
        s.merge(batch([("k1", 2, "u", "a2", "x"), ("k2", 3, "u", "b", "y")],
                      "k string, lsn long, op string, v string, extra string"), epoch=1)
        sinks[mode] = s

    def chg(s):
        df = s.read_changes(1, from_epoch=0)
        return sorted(
            (r.k, r._change_type, r.v, r.extra, r.lsn) for r in df.collect()
        )

    got = chg(sinks["mor"])
    assert got == chg(sinks["cow"])
    assert got == [("k1", "update_postimage", "a2", "x", 2),
                   ("k2", "insert", "b", "y", 3)]


def test_read_changes_mor_after_later_rebucket(spark, tmp_path):
    """A rebucket() committed AFTER to_epoch changes the live bucket
    count, but a changelog over the pre-rebucket range must still probe
    the prior snapshot with the count that snapshot was written under —
    otherwise prior rows are silently missed and updates misclassify as
    inserts. Parity against a COW twin over the same stream."""
    rows0 = [(f"k{i}", i, "u", f"v{i}") for i in range(40)]
    rows1 = (
        [(f"k{i}", 100 + i, "u", f"w{i}") for i in range(0, 40, 3)]  # updates
        + [(f"n{i}", 200 + i, "u", f"x{i}") for i in range(5)]        # inserts
        + [("k1", 300, "d", None)]                                     # delete
    )
    cow = BucketedMergeSink(spark, str(tmp_path / "c"), keys=["k"],
                            order_col="lsn", num_buckets=4)
    mor = BucketedMergeSink(spark, str(tmp_path / "m"), keys=["k"],
                            order_col="lsn", num_buckets=4, merge_mode="mor")
    for e, rows in enumerate([rows0, rows1]):
        cow.merge(_batch(spark, rows), epoch=e)
        mor.merge(_batch(spark, rows), epoch=e)
    mor.rebucket(16)  # lands after to_epoch; live count no longer 4

    got = sorted((r.k, r._change_type, r.v, r.lsn)
                 for r in mor.read_changes(1, from_epoch=0).collect())
    want = sorted((r.k, r._change_type, r.v, r.lsn)
                  for r in cow.read_changes(1, from_epoch=0).collect())
    assert got == want
    assert ("k1", "delete", "v1", 1) in got  # pre-image delete survived


def test_read_changes_mor_legacy_snapshot_refuses_after_rebucket(spark, tmp_path):
    """Manifests written before per-epoch bucket-count recording can't
    prove which count a snapshot used once a rebucket() exists — the
    changelog must refuse rather than prune with the wrong count."""
    import json, os

    mor = BucketedMergeSink(spark, str(tmp_path / "m"), keys=["k"],
                            order_col="lsn", num_buckets=4, merge_mode="mor")
    mor.merge(_batch(spark, [("k1", 1, "u", "a")]), epoch=0)
    mor.merge(_batch(spark, [("k1", 2, "u", "a2")]), epoch=1)
    mor.rebucket(8)
    # simulate a legacy manifest: strip the recorded per-epoch counts
    mpath = os.path.join(str(tmp_path / "m"), "_manifest.json")
    with open(mpath) as f:
        man = json.load(f)
    for e in man["epochs"]:
        e.pop("num_buckets", None)
    with open(mpath, "w") as f:
        json.dump(man, f)
    reopened = BucketedMergeSink.open(spark, str(tmp_path / "m"))
    with pytest.raises(ValueError, match="rebucket"):
        reopened.read_changes(1, from_epoch=0)


def test_read_changes_mor_from_none_after_compact(spark, tmp_path):
    """Diff-vs-empty (from_epoch=None) on a MOR sink whose history
    contains a compact() must still produce EVERY live row as an insert
    — the folded (compacted) rows live in the base, not in any delta
    dir, so a delta-only read would silently drop them."""
    sink = BucketedMergeSink(spark, str(tmp_path / "fc"), keys=["k"],
                             order_col="lsn", num_buckets=4, merge_mode="mor")
    sink.merge(_batch(spark, [("k1", 1, "u", "a"), ("k2", 2, "u", "b")]), epoch=0)
    sink.compact()  # folds e0 into the base; e0's delta dirs leave the list
    sink.merge(_batch(spark, [("k3", 3, "u", "c"), ("k1", 4, "u", "a2")]), epoch=1)
    got = sorted((r.k, r._change_type, r.v, r.lsn)
                 for r in sink.read_changes(1).collect())
    assert got == [("k1", "insert", "a2", 4), ("k2", "insert", "b", 2),
                   ("k3", "insert", "c", 3)]
