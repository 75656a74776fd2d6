"""Incrementally-maintained IVF embedding index (streaming/ann_index.py):
per-epoch changelog-fed adds/retractions must reconstruct exactly the
batch nearest-centroid assignment of the sink's live docs under the
frozen codebook, and search() must match an independent numpy IVF
oracle — with exactly-once refreshes, compaction, cell-pruned scans.
"""

import math
import os

import pytest
from pyspark.sql import functions as F

from kafka_connect_converter_json_spark.sources.cdc_gen import gen_events
from kafka_connect_converter_json_spark.streaming.ann_index import (
    KEY_SEP,
    IncrementalANNIndex,
)
from kafka_connect_converter_json_spark.streaming.ingest import ingest
from kafka_connect_converter_json_spark.streaming.sink import BucketedMergeSink

N = 2000
DIM = 6
K_CENTS = 8


def _vec_expr():
    """Deterministic hash-projection embedding of the content payload —
    a pure Column function, so preimage retraction reproduces the
    stored vector bit-for-bit (the index's contract)."""
    return F.array(*[
        (
            F.pmod(F.xxhash64(F.col("content"), F.lit(j)), F.lit(1000))
            .cast("double") / F.lit(500.0) - F.lit(1.0)
        )
        for j in range(DIM)
    ])


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def events(spark):
    # delete_pct default + Zipf hot repo: inserts, updates AND deletes,
    # so the retraction path genuinely runs.
    return gen_events(spark, N, n_repos=10, paths_per_repo=20, seed=23).cache()


@pytest.fixture(scope="module")
def loaded(spark, events, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("ann")
    sink = ingest(
        spark, events, str(tmp / "sink"), N, n_epochs=4, num_buckets=8,
        merge_mode="mor",
    )
    idx = IncrementalANNIndex(
        spark, str(tmp / "idx"), sink, vec_expr=_vec_expr(),
        n_centroids=K_CENTS,
    )
    results = [idx.refresh(to_epoch=e) for e in sorted(sink.committed_epochs())]
    return sink, idx, results


def _live_vecs(sink):
    """(id, vec) of the sink's live docs under the fixture embedding —
    the input both the index and the numpy oracle start from."""
    return sink.read().select(
        F.concat_ws(KEY_SEP, "repo", "path").alias("id"),
        _vec_expr().cast("array<double>").alias("vec"),
    )


# ----- numpy-free python oracle helpers (independent argmin / cosine) ----

def _sq_dist(v, c):
    return round(sum((float(a) - float(b)) ** 2 for a, b in zip(v, c)), 6)


def _argmin_cell(v, cents):
    d = [_sq_dist(v, c) for c in cents]
    return d.index(min(d))  # first-min tiebreak, as in the engine


def _py_cos(a, b):
    dot = sum(float(x) * float(y) for x, y in zip(a, b))
    na = math.sqrt(sum(float(x) ** 2 for x in a))
    nb = math.sqrt(sum(float(x) ** 2 for x in b))
    return dot / (na * nb)


def test_assignments_match_batch_argmin_of_live_docs(spark, loaded):
    sink, idx, _ = loaded
    cents = idx.centroids
    assert cents and len(cents) == K_CENTS
    live = {r.id: list(r.vec) for r in _live_vecs(sink).collect()}
    got = {(r.id, r.cell) for r in idx.read_assignments().collect()}
    exp = {(i, _argmin_cell(v, cents)) for i, v in live.items()}
    assert got == exp and len(got) > 100


@pytest.mark.parametrize("nprobe", [2, K_CENTS])
def test_search_matches_python_ivf_oracle(spark, loaded, nprobe):
    """search() ≡ an independently-computed IVF top-k (probe-cell pick,
    candidate restriction, cosine, rank — all re-derived in plain
    python). At nprobe = n_centroids this IS brute force over the live
    corpus."""
    sink, idx, _ = loaded
    cents = idx.centroids
    live = {r.id: list(r.vec) for r in _live_vecs(sink).collect()}
    qids = sorted(live)[:3]
    queries = spark.createDataFrame(
        [(q, live[q]) for q in qids], "query_id string, vec array<double>"
    )
    got = {}
    for r in idx.search(queries, k=5, nprobe=nprobe).collect():
        got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.cos))
    for q in qids:
        dists = sorted(
            (_sq_dist(live[q], c), i) for i, c in enumerate(cents)
        )
        probed = {i for _, i in dists[:nprobe]}
        cand = [i for i, v in live.items() if _argmin_cell(v, cents) in probed]
        scored = sorted(
            ((round(_py_cos(live[q], live[i]), 4), i) for i in cand),
            key=lambda t: (-t[0], t[1]),
        )[:5]
        actual = sorted(got[q])
        assert [a[1] for a in actual] == [i for _, i in scored]
        for a, (c, _) in zip(actual, scored):
            assert abs(a[2] - c) < 1e-3


def test_search_prunes_to_probed_cells(spark, loaded):
    """The state scan behind search() touches ONLY the probed cells'
    ``_cell=`` partition dirs — the nprobe/n_centroids read the 10^10
    regime depends on."""
    sink, idx, _ = loaded
    cents = idx.centroids
    live = {r.id: list(r.vec) for r in _live_vecs(sink).collect()}
    q = sorted(live)[0]
    queries = spark.createDataFrame(
        [(q, live[q])], "query_id string, vec array<double>"
    )
    out = idx.search(queries, k=5, nprobe=1)
    probed = {
        sorted((_sq_dist(live[q], c), i) for i, c in enumerate(cents))[0][1]
    }
    files = [f for f in out.inputFiles() if "_cell=" in f]
    assert files, "expected a partitioned state scan"
    touched = {
        int(f.split("_cell=")[1].split("/")[0]) for f in files
    }
    assert touched == probed
    # ...while the index genuinely spans more cells than were scanned
    all_cells = {r.cell for r in idx.read_assignments().select("cell").collect()}
    assert len(all_cells) > len(touched)


def test_deletes_are_retracted(spark, events, loaded):
    sink, idx, _ = loaded
    last = events.groupBy("repo", "path").agg(F.max_by("op", "lsn").alias("op"))
    gone = last.filter(F.col("op") == "d").select(
        F.concat_ws(KEY_SEP, "repo", "path").alias("_id")
    )
    assert gone.count() > 0  # the fixture really exercises deletes
    assert (
        idx.read_assignments().join(gone, F.col("id") == F.col("_id")).count()
        == 0
    )


def test_refresh_idempotent_and_stale_noop(spark, loaded):
    _, idx, _ = loaded
    last = idx.last_epoch
    assert idx.refresh() == {"refreshed": False, "last_epoch": last, "rows": 0}
    assert idx.refresh(to_epoch=last - 1)["refreshed"] is False
    assert idx.last_epoch == last


def test_codebook_frozen_across_refreshes(spark, events, tmp_path):
    """The codebook trains on the bootstrap refresh and never moves —
    later refreshes assign under the SAME centroids (the manifest
    value), so stored assignments stay valid."""
    sink = ingest(
        spark, events, str(tmp_path / "s"), N, n_epochs=3, num_buckets=8,
        merge_mode="mor",
    )
    idx = IncrementalANNIndex(
        spark, str(tmp_path / "i"), sink, vec_expr=_vec_expr(),
        n_centroids=4, lloyd_rounds=2,  # refinement runs at bootstrap only
    )
    epochs = sorted(sink.committed_epochs())
    idx.refresh(to_epoch=epochs[0])
    frozen = idx.centroids
    assert frozen and len(frozen) == 4
    for e in epochs[1:]:
        idx.refresh(to_epoch=e)
    assert idx.centroids == frozen
    # and the live view still equals batch assignment under the frozen book
    live = {r.id: list(r.vec) for r in _live_vecs(sink).collect()}
    got = {(r.id, r.cell) for r in idx.read_assignments().collect()}
    assert got == {(i, _argmin_cell(v, frozen)) for i, v in live.items()}


def test_vector_unchanged_update_nets_zero(spark, tmp_path):
    """Re-sending identical content at a higher LSN is an update in the
    changelog but a no-op for the index: the embedding is a pure
    function of the payload, so the preimage retraction cancels the
    postimage add — the epoch delta is provably empty."""
    sink = BucketedMergeSink(
        spark, str(tmp_path / "s"), keys=["k"], order_col="lsn", num_buckets=4,
    )
    rows = [("a", 1, "alpha beta gamma"), ("b", 2, "delta epsilon zeta")]
    sink.merge(
        spark.createDataFrame(rows, "k string, lsn long, content string")
        .withColumn("op", F.lit("u")),
        epoch=0,
    )
    sink.merge(
        spark.createDataFrame(
            [("a", 10, "alpha beta gamma")], "k string, lsn long, content string"
        ).withColumn("op", F.lit("u")),
        epoch=1,
    )
    idx = IncrementalANNIndex(
        spark, str(tmp_path / "i"), sink, vec_expr=_vec_expr(), n_centroids=2,
    )
    idx.refresh(to_epoch=0)
    before = _rows(idx.read_assignments())
    out = idx.refresh(to_epoch=1)
    assert out["refreshed"] and out["rows"] == 0
    assert _rows(idx.read_assignments()) == before
    delta = os.path.join(str(tmp_path / "i"), idx._manifest["deltas"][-1])
    assert spark.read.schema(idx._VEC_SCHEMA).parquet(delta).count() == 0


def test_update_moves_vector_between_versions(spark, tmp_path):
    """A changed payload retracts the OLD (cell, vec) row and adds the
    new one — the live view holds exactly one row per live key, under
    the new vector."""
    sink = BucketedMergeSink(
        spark, str(tmp_path / "s"), keys=["k"], order_col="lsn", num_buckets=4,
    )
    sink.merge(
        spark.createDataFrame(
            [("a", 1, "old payload text"), ("b", 1, "steady text")],
            "k string, lsn long, content string",
        ).withColumn("op", F.lit("u")),
        epoch=0,
    )
    sink.merge(
        spark.createDataFrame(
            [("a", 5, "brand new payload")], "k string, lsn long, content string"
        ).withColumn("op", F.lit("u")),
        epoch=1,
    )
    idx = IncrementalANNIndex(
        spark, str(tmp_path / "i"), sink, vec_expr=_vec_expr(), n_centroids=2,
    )
    idx.refresh(to_epoch=0)
    old_a = [t for t in _rows(idx.read_assignments()) if t[0] == "a"]
    idx.refresh(to_epoch=1)
    rows = _rows(idx.read_assignments())
    new_a = [t for t in rows if t[0] == "a"]
    assert len(new_a) == 1 and new_a != old_a
    assert len(rows) == 2  # one live row per key, no stale version


def test_compact_and_vacuum_preserve_state(spark, events, tmp_path):
    sink = ingest(
        spark, events, str(tmp_path / "s"), N, n_epochs=3, num_buckets=8,
        merge_mode="mor",
    )
    idx = IncrementalANNIndex(
        spark, str(tmp_path / "i"), sink, vec_expr=_vec_expr(),
        n_centroids=K_CENTS,
    )
    for e in sorted(sink.committed_epochs()):
        idx.refresh(to_epoch=e)
    state = _rows(idx.read_assignments())
    out = idx.compact()
    assert out["compacted"] and out["deltas_folded"] == 3
    assert idx._manifest["deltas"] == []
    assert _rows(idx.read_assignments()) == state
    gone = idx.vacuum()
    assert any(d.startswith("vecs_e") for d in gone)
    assert _rows(idx.read_assignments()) == state
    assert idx.compact() == {"compacted": False, "deltas_folded": 0}


def test_param_mismatch_reopen_refusal(spark, events, tmp_path):
    sink = ingest(
        spark, events, str(tmp_path / "s"), N, n_epochs=1, num_buckets=8,
        merge_mode="mor",
    )
    root = str(tmp_path / "i")
    IncrementalANNIndex(
        spark, root, sink, vec_expr=_vec_expr(), n_centroids=4,
    ).refresh()
    with pytest.raises(ValueError, match="params"):
        IncrementalANNIndex(spark, root, sink, vec_expr=_vec_expr(), n_centroids=8)
    with pytest.raises(ValueError, match="params"):
        IncrementalANNIndex(
            spark, root, sink, vec_expr=_vec_expr(), n_centroids=4,
            vec_tag="other-embedding",
        )
