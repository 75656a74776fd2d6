"""Lifecycle shared by all derived state (streaming/derived.py): the
aggregate view and the LSH, IVF and BM25 indexes commit exactly once
through one versioned manifest swap. Every case runs against all four
classes over one tiny copy-on-write sink."""

import json
import os
import shutil

import pytest

from kafka_connect_converter_json_spark.streaming.ann_index import IncrementalANNIndex
from kafka_connect_converter_json_spark.streaming.lsh_index import IncrementalLSHIndex
from kafka_connect_converter_json_spark.streaming.sink import (
    BucketedMergeSink,
    ConcurrentCommitError,
    NoChanges,
)
from kafka_connect_converter_json_spark.streaming.text_index import (
    IncrementalBM25Index,
)
from kafka_connect_converter_json_spark.streaming.view import IncrementalAggView

SCHEMA = (
    "k string, lsn long, op string, g string, v long, content string, "
    "embedding array<double>"
)
# epoch 1 updates k1 (text, vector AND group change), deletes k3 and
# inserts k5, so every class both adds and retracts
EPOCHS = [
    [
        ("k1", 1, "u", "a", 10, "alpha beta gamma delta", [1.0, 0.0]),
        ("k2", 2, "u", "a", 20, "alpha beta gamma epsilon", [0.9, 0.1]),
        ("k3", 3, "u", "b", 5, "zeta eta theta iota", [0.0, 1.0]),
        ("k4", 4, "u", "b", 7, "kappa lambda mu nu", [0.1, 0.9]),
    ],
    [
        ("k1", 5, "u", "b", 11, "alpha beta gamma delta omega", [0.8, 0.3]),
        ("k3", 6, "d", None, None, None, None),
        ("k5", 7, "u", "a", 3, "zeta eta theta kappa", [0.2, 0.7]),
    ],
]


def _rows(df):
    return sorted(map(tuple, df.collect()))


# kind -> (open(spark, root, sink), comparable state, the dirs of the
# epoch-0 manifest that refresh(1) supersedes)
KINDS = {
    "view": (
        lambda spark, root, sink: IncrementalAggView(
            spark, root, sink, ["g"], {"n": ("count", None), "sv": ("sum", "v")}
        ),
        lambda s: _rows(s.read()),
        lambda m: {m["state"]},
    ),
    "lsh": (
        lambda spark, root, sink: IncrementalLSHIndex(
            spark, root, sink, n=2, num_buckets=4
        ),
        lambda s: (_rows(s.read_bands()), _rows(s.read_pairs())),
        lambda m: set(),
    ),
    "ann": (
        lambda spark, root, sink: IncrementalANNIndex(
            spark, root, sink, n_centroids=2
        ),
        lambda s: _rows(s.read_assignments()),
        lambda m: set(),
    ),
    "bm25": (
        lambda spark, root, sink: IncrementalBM25Index(
            spark, root, sink, num_buckets=4
        ),
        lambda s: (_rows(s.read_postings()), _rows(s.read_doclens())),
        lambda m: set(),
    ),
}
COMPACTING = {"lsh", "ann", "bm25"}


class Boom(RuntimeError):
    pass


def _boom(*_a, **_kw):
    raise Boom()


def _dirs(root):
    return {d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))}


def _stored(state):
    with open(os.path.join(state.root, state.MANIFEST)) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def sink(spark, tmp_path_factory):
    s = BucketedMergeSink(
        spark, str(tmp_path_factory.mktemp("derived") / "sink"), keys=["k"],
        order_col="lsn", num_buckets=2, merge_mode="cow",
    )
    for e, rows in enumerate(EPOCHS):
        s.merge(spark.createDataFrame(rows, SCHEMA), epoch=e)
    return s


@pytest.fixture(scope="module")
def reference(spark, sink, tmp_path_factory):
    """Per kind, a crash-free run: a copy of its root as committed at
    epoch 0, and its state at epoch 0 and then at epoch 1."""
    out = {}
    for kind, (open_, state, _) in KINDS.items():
        tmp = tmp_path_factory.mktemp(f"ref_{kind}")
        s = open_(spark, str(tmp / "run"), sink)
        s.refresh(0)
        shutil.copytree(s.root, str(tmp / "at0"))
        at0 = state(s)
        s.refresh(1)
        out[kind] = (str(tmp / "at0"), at0, state(s))
    return out


@pytest.mark.parametrize("kind", list(KINDS))
def test_crash_before_commit_recovers(spark, sink, reference, tmp_path, kind):
    """A crash between the state write and the manifest swap, first in a
    refresh and then in a compaction: the partial result stays
    invisible, a reopened handle retries it to the crash-free state,
    and vacuum drops what the crash left behind."""
    open_, state, superseded_in = KINDS[kind]
    committed0, at0, at1 = reference[kind]
    root = str(tmp_path / "state")
    shutil.copytree(committed0, root)
    s = open_(spark, root, sink)
    before, superseded = _dirs(root), superseded_in(_stored(s))
    s._swap = _boom
    with pytest.raises(Boom):
        s.refresh(1)  # state dirs written, manifest NOT swapped
    orphans = _dirs(root) - before
    assert orphans and s.last_epoch == 0
    # vacuum on a copy of the crashed root drops exactly the orphans
    shutil.copytree(root, str(tmp_path / "crashed"))
    assert set(open_(spark, str(tmp_path / "crashed"), sink).vacuum()) == orphans

    s = open_(spark, root, sink)  # fresh open: the crash-recovery path
    assert s.last_epoch == 0 and state(s) == at0  # partial refresh invisible
    s.refresh(1)  # the retry writes dirs of its own
    assert s.last_epoch == 1 and state(s) == at1
    assert orphans <= _dirs(root)  # and left the orphans alone
    # superseded state and the orphans go, live state stays
    assert set(s.vacuum()) == superseded | orphans
    if kind not in COMPACTING:
        assert state(s) == at1
        return

    before, manifest = _dirs(root), _stored(s)
    s._swap = _boom
    with pytest.raises(Boom):
        s.compact()  # base written, manifest NOT swapped
    (orphan,) = _dirs(root) - before
    assert orphan.startswith("base_e1-")
    shutil.copytree(root, str(tmp_path / "crashed_compact"))
    assert open_(spark, str(tmp_path / "crashed_compact"), sink).vacuum() == [
        orphan
    ]

    s = open_(spark, root, sink)
    assert _stored(s) == manifest and state(s) == at1  # compaction invisible
    assert s.compact() == {"compacted": True, "deltas_folded": 2}
    assert _stored(s)["base"] not in (orphan, manifest["base"])
    # folded deltas and the crashed attempt's base go
    assert set(s.vacuum()) == set(manifest["deltas"]) | {orphan}
    assert state(s) == at1


@pytest.mark.parametrize("kind", list(KINDS))
def test_second_handle_commit_conflicts(spark, sink, tmp_path, kind):
    """Two handles opened at one version: the first commit wins, the
    second raises and leaves the manifest as the first wrote it."""
    open_, state, _ = KINDS[kind]
    root = str(tmp_path / "state")
    first, second = open_(spark, root, sink), open_(spark, root, sink)
    first.refresh(0)
    manifest = _stored(first)
    # epoch 1 writes other dirs than epoch 0, so the losing attempt
    # leaves the winner's files alone
    with pytest.raises(ConcurrentCommitError):
        second.refresh(1)
    assert _stored(first) == manifest
    assert open_(spark, root, sink).last_epoch == 0


@pytest.mark.parametrize("kind", list(KINDS))
def test_no_changes_commits_epoch_without_state(
    spark, sink, reference, tmp_path, monkeypatch, kind
):
    with pytest.raises(NoChanges):  # the copy-on-write raise site
        sink.read_changes(1, from_epoch=1)
    open_, state, _ = KINDS[kind]
    committed0, at0, _ = reference[kind]
    root = str(tmp_path / "state")
    shutil.copytree(committed0, root)
    s = open_(spark, root, sink)
    before = _dirs(root)

    def no_changes(*_a, **_kw):
        raise NoChanges("snapshots are identical")

    monkeypatch.setattr(sink, "read_changes", no_changes)
    out = s.refresh(1)
    assert out["refreshed"] and out["last_epoch"] == 1
    assert _dirs(root) == before and state(s) == at0
    assert open_(spark, root, sink).last_epoch == 1  # committed
