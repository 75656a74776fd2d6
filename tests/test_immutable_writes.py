"""Every write lands in a fresh directory and the manifest swap is the
only mutation, so neither a rival handle nor a crash can touch committed
data.

- Two handles opened at one manifest version both run the same writer
  (sink merge in both modes, compaction, rebucket, stage, publish in
  both modes, and a refresh of each derived-state class). The second
  raises ``ConcurrentCommitError``, and a fresh open reads the first's
  state from the very files the first committed.
- The crash matrix fails the manifest commit of every write step once,
  after its data write. A reopened handle retries the step, and
  ``read()``, ``read_changes()``, ``history()`` and ``read_lineage()``
  end equal to a run without crashes. ``vacuum`` on a copy of each
  crashed root removes exactly what the failed attempt wrote.
"""

import json
import os
import random
import shutil

import pytest

from kafka_connect_converter_json_spark.streaming.ann_index import IncrementalANNIndex
from kafka_connect_converter_json_spark.streaming.lsh_index import IncrementalLSHIndex
from kafka_connect_converter_json_spark.streaming.sink import (
    MANIFEST,
    BucketedMergeSink,
    ConcurrentCommitError,
)
from kafka_connect_converter_json_spark.streaming.text_index import (
    IncrementalBM25Index,
)
from kafka_connect_converter_json_spark.streaming.view import IncrementalAggView

SCHEMA = (
    "k string, lsn long, op string, v long, kafka_partition int, kafka_offset long"
)


class Boom(RuntimeError):
    pass


def _boom(*_a, **_kw):
    raise Boom()


def _batch(spark, epoch: int, salt: int = 0):
    """40 events over 24 keys, ~15% deletes; ``salt`` changes only the
    payload, so two salts touch the same buckets with different rows."""
    rng = random.Random(epoch)
    rows = []
    for j in range(40):
        lsn = epoch * 1000 + j
        op = "d" if rng.random() < 0.15 else "u"
        rows.append((
            f"k{rng.randrange(24):02d}", lsn, op,
            None if op == "d" else lsn * 10 + salt, j % 2, lsn,
        ))
    return spark.createDataFrame(rows, SCHEMA)


def _rows(df):
    return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())


def _open(spark, root):
    return BucketedMergeSink.open(spark, root, compact_every=None)


def _sink_view(sink):
    """Table state plus every staged epoch's delta rows."""
    return _rows(sink.read()), {
        e: _rows(sink.read_staged_delta(e)) for e in sorted(sink.staged_epochs())
    }


def _files_under(root: str, rels) -> dict:
    return {
        rel: sorted(
            os.path.relpath(os.path.join(d, f), root)
            for d, _, fs in os.walk(os.path.join(root, rel)) for f in fs
        )
        for rel in rels
    }


def _sink_named_files(root: str) -> dict:
    """Files under every dir the stored manifest names: live state, every
    epoch snapshot and every staged epoch."""
    with open(os.path.join(root, MANIFEST)) as f:
        m = json.load(f)
    rels = {
        r for s in [m, *m["epochs"]]
        for r in [*s["buckets"].values(), *s.get("deltas", [])]
    }
    rels |= {r for s in m.get("staged", {}).values() for r in s["delta_rels"]}
    return _files_under(root, rels)


def _bucket_dirs(root: str) -> set:
    data = os.path.join(root, "data")
    return {
        f"data/{d}/{b}"
        for d in os.listdir(data)
        for b in os.listdir(os.path.join(data, d))
        if b.startswith("_bucket=")
    }


# ----- two handles, one manifest version ---------------------------------

@pytest.fixture(scope="module")
def seeded(spark, tmp_path_factory):
    """Per mode, a sink root holding epoch 0 and one holding epoch 0
    plus a staged epoch 1."""
    out = {}
    for mode in ("mor", "cow"):
        base = str(tmp_path_factory.mktemp(f"race_{mode}") / "sink")
        sink = BucketedMergeSink(
            spark, base, keys=["k"], order_col="lsn", num_buckets=4,
            merge_mode=mode, compact_every=None,
        )
        sink.merge(_batch(spark, 0), 0)
        staged = base + "_staged"
        shutil.copytree(base, staged)
        _open(spark, staged).stage(_batch(spark, 1), 1)
        out[mode], out[f"{mode}_staged"] = base, staged
    return out


# name -> (seeded root, the writer both handles run with their own batch)
SINK_RACES = {
    "merge-mor": ("mor", lambda s, b: s.merge(b, 1)),
    "merge-cow": ("cow", lambda s, b: s.merge(b, 1)),
    "compact": ("mor", lambda s, b: s.compact()),
    "rebucket": ("mor", lambda s, b: s.rebucket(8)),
    "stage": ("mor", lambda s, b: s.stage(b, 1)),
    "publish-mor": ("mor_staged", lambda s, b: s.publish(1)),
    "publish-cow": ("cow_staged", lambda s, b: s.publish(1)),
}


@pytest.mark.parametrize("name", list(SINK_RACES))
def test_sink_race_loser_leaves_winner_intact(spark, seeded, tmp_path, name):
    seed, write = SINK_RACES[name]
    root = str(tmp_path / "sink")
    shutil.copytree(seeded[seed], root)
    winner, loser = _open(spark, root), _open(spark, root)
    write(winner, _batch(spark, 1, salt=1))
    state, files = _sink_view(winner), _sink_named_files(root)
    with pytest.raises(ConcurrentCommitError):
        write(loser, _batch(spark, 1, salt=2))
    assert _sink_named_files(root) == files
    assert _sink_view(_open(spark, root)) == state


DERIVED_SCHEMA = (
    "k string, lsn long, op string, g string, v long, content string, "
    "embedding array<double>"
)
DERIVED = {
    "view": (
        lambda spark, root, sink: IncrementalAggView(
            spark, root, sink, ["g"], {"n": ("count", None), "sv": ("sum", "v")}
        ),
        lambda s: _rows(s.read()),
    ),
    "lsh": (
        lambda spark, root, sink: IncrementalLSHIndex(
            spark, root, sink, n=2, num_buckets=4
        ),
        lambda s: (_rows(s.read_bands()), _rows(s.read_pairs())),
    ),
    "ann": (
        lambda spark, root, sink: IncrementalANNIndex(
            spark, root, sink, n_centroids=2
        ),
        lambda s: _rows(s.read_assignments()),
    ),
    "bm25": (
        lambda spark, root, sink: IncrementalBM25Index(
            spark, root, sink, num_buckets=4
        ),
        lambda s: (_rows(s.read_postings()), _rows(s.read_doclens())),
    ),
}


@pytest.fixture(scope="module")
def derived_sink(spark, tmp_path_factory):
    sink = BucketedMergeSink(
        spark, str(tmp_path_factory.mktemp("derived_race") / "sink"), keys=["k"],
        order_col="lsn", num_buckets=2, merge_mode="cow",
    )
    sink.merge(spark.createDataFrame([
        ("k1", 1, "u", "a", 10, "alpha beta gamma delta", [1.0, 0.0]),
        ("k2", 2, "u", "a", 20, "alpha beta gamma epsilon", [0.9, 0.1]),
        ("k3", 3, "u", "b", 5, "zeta eta theta iota", [0.0, 1.0]),
    ], DERIVED_SCHEMA), 0)
    return sink


@pytest.mark.parametrize("kind", list(DERIVED))
def test_derived_race_loser_leaves_winner_intact(
    spark, derived_sink, tmp_path, kind
):
    open_, state = DERIVED[kind]
    root = str(tmp_path / "state")
    winner, loser = open_(spark, root, derived_sink), open_(spark, root, derived_sink)
    winner.refresh(0)
    expected, files = state(winner), _files_under(root, winner._live_rels())
    with pytest.raises(ConcurrentCommitError):
        loser.refresh(0)
    assert _files_under(root, winner._live_rels()) == files
    fresh = open_(spark, root, derived_sink)
    assert fresh.last_epoch == 0 and state(fresh) == expected


# ----- crash matrix ---------------------------------------------------------

def _steps(spark, mode):
    """(name, write, crash here?) for one scenario: every sink writer,
    each step crashed once where the flag is set."""
    steps = [
        ("merge 0", lambda s: s.merge(_batch(spark, 0), 0), False),
        ("merge 1", lambda s: s.merge(_batch(spark, 1), 1), True),
        ("stage 2", lambda s: s.stage(_batch(spark, 2), 2), True),
        ("publish 2", lambda s: s.publish(2), True),
    ]
    if mode == "mor":
        steps += [
            ("compact", lambda s: s.compact(), True),
            ("merge 3", lambda s: s.merge(_batch(spark, 3), 3), False),
            ("zorder", lambda s: s.compact(zorder=["lsn"], files_per_bucket=2), True),
            ("merge 4", lambda s: s.merge(_batch(spark, 4), 4), False),
            ("rebucket", lambda s: s.rebucket(8), True),
        ]
    return steps + [("merge 5", lambda s: s.merge(_batch(spark, 5), 5), False)]


def _outcome(sink):
    epochs = sorted(sink.committed_epochs())
    changes = [
        _rows(sink.read_changes(e, from_epoch=p))
        for p, e in zip([None, *epochs], epochs)
    ]
    return (
        _rows(sink.read()), changes, _rows(sink.history()),
        _rows(sink.read_lineage()),
    )


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_crash_at_every_commit_then_resume_matches_clean_run(
    spark, tmp_path, mode
):
    steps = _steps(spark, mode)
    clean = BucketedMergeSink(
        spark, str(tmp_path / "clean"), keys=["k"], order_col="lsn",
        num_buckets=4, merge_mode=mode, compact_every=None,
    )
    clean_state = {}
    for name, write, crash in steps:
        write(clean)
        if crash:
            clean_state[name] = _sink_view(clean)

    root = str(tmp_path / "crashed")
    sink = BucketedMergeSink(
        spark, root, keys=["k"], order_col="lsn", num_buckets=4,
        merge_mode=mode, compact_every=None,
    )
    for name, write, crash in steps:
        if crash:
            before, stored = _bucket_dirs(root), _sink_named_files(root)
            keep = len(sink.committed_epochs())
            garbage = set(sink.vacuum(keep_epochs=keep, dry_run=True))
            sink._writer.commit = _boom
            with pytest.raises(Boom):
                write(sink)
            orphans = _bucket_dirs(root) - before
            # a metadata-only publish writes nothing; every other step does
            assert bool(orphans) != (name == "publish 2" and mode == "mor"), name
            assert _sink_named_files(root) == stored, name
            copy = str(tmp_path / f"vacuum-{name}")
            shutil.copytree(root, copy)
            removed = _open(spark, copy).vacuum(keep_epochs=keep)
            assert set(removed) == garbage | orphans, name
            assert _bucket_dirs(copy) == before - garbage, name
            assert all(  # a failed attempt's write dir goes as a whole
                any(b.startswith("_bucket=") for b in os.listdir(os.path.join(
                    copy, "data", d
                ))) for d in os.listdir(os.path.join(copy, "data"))
            ), name
            sink = _open(spark, root)  # the restart after the crash
        write(sink)
        if crash:
            assert _sink_view(sink) == clean_state[name], name
    assert _outcome(_open(spark, root)) == _outcome(clean)
