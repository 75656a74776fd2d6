"""Incrementally-maintained MinHash-LSH index (streaming/lsh_index.py):
per-epoch changelog-fed adds/retractions must reconstruct exactly the
batch banding/candidate state of the sink's live docs, with exactly-once
refreshes, compaction, and new-pair emission per epoch."""

import pytest
from pyspark.sql import functions as F

from kafka_connect_converter_json_spark.operators.textdedup import (
    minhash_lsh_candidates,
)
from kafka_connect_converter_json_spark.sources.cdc_gen import gen_events
from kafka_connect_converter_json_spark.streaming.ingest import ingest
from kafka_connect_converter_json_spark.streaming.lsh_index import (
    KEY_SEP,
    IncrementalLSHIndex,
)

N = 2000


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def events(spark):
    # delete_pct default 5 + the Zipf hot repo: the stream carries
    # inserts, updates AND deletes, so retraction paths genuinely run.
    # gen_events content is unique per event id (no two live docs share
    # shingles), so near-dups are PLANTED: ~1/5 of keys get one of 3
    # shared templates — a pure function of the KEY, so every event of a
    # planted key carries the same text (LWW winners keep it, and
    # text-unchanged updates exercise the net-to-zero path).
    base = gen_events(spark, N, n_repos=10, paths_per_repo=20, seed=17)
    planted = F.pmod(F.xxhash64("path"), F.lit(5)) == 0
    tmpl = F.concat(
        F.lit("shared template variant "),
        F.pmod(F.xxhash64("path"), F.lit(3)).cast("string"),
        F.lit(" alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    )
    return base.withColumn(
        "value_json",
        F.when(
            planted & F.col("value_json").isNotNull(),
            F.regexp_replace(
                "value_json",
                F.lit('"content":"[^"]*"'),
                F.concat(F.lit('"content":"'), tmpl, F.lit('"')),
            ),
        ).otherwise(F.col("value_json")),
    ).cache()


@pytest.fixture(scope="module")
def loaded(spark, events, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("lsh")
    sink = ingest(
        spark, events, str(tmp / "sink"), N, n_epochs=4, num_buckets=8,
        merge_mode="mor",
    )
    idx = IncrementalLSHIndex(spark, str(tmp / "idx"), sink, num_buckets=8)
    results = [idx.refresh(to_epoch=e) for e in sorted(sink.committed_epochs())]
    return sink, idx, results


def _live_docs(sink):
    return sink.read().select(
        F.concat_ws(KEY_SEP, "repo", "path").alias("_id"), "content"
    )


def test_bands_match_batch_banding_of_live_docs(spark, loaded):
    sink, idx, _ = loaded
    got = _rows(idx.read_bands())
    exp = _rows(idx._band_rows(sink.read()))
    assert got == exp and len(got) > 0


def test_candidate_pairs_match_batch_operator(spark, loaded):
    """The index's full candidate set ≡ the standalone batch LSH operator
    run from scratch over the final live corpus — the independent path
    (its own shingling/minhash/banding/self-join)."""
    sink, idx, _ = loaded
    got = _rows(idx.candidate_pairs())
    exp = _rows(
        minhash_lsh_candidates(
            _live_docs(sink), "content", "_id",
            n=3, num_hashes=16, bands=4, max_band_freq=None,
        )
    )
    assert got == exp and len(got) > 0


def test_incremental_pair_log_covers_final_candidates(spark, loaded):
    """Every final candidate pair was emitted by some refresh (at the
    epoch that added its later endpoint) — the admission-signal
    completeness property."""
    sink, idx, results = loaded
    assert sum(r["new_pairs"] for r in results) > 0
    final = set(_rows(idx.candidate_pairs()))
    logged = set(_rows(idx.read_pairs()))
    assert final <= logged


def test_deletes_are_retracted(spark, events, loaded):
    sink, idx, _ = loaded
    # a key whose last event is a delete must have no band rows
    last = events.groupBy("repo", "path").agg(
        F.max_by("op", "lsn").alias("op")
    )
    gone = last.filter(F.col("op") == "d").select(
        F.concat_ws(KEY_SEP, "repo", "path").alias("_id")
    )
    n_gone = gone.count()
    assert n_gone > 0  # the fixture really exercises deletes
    assert idx.read_bands().join(gone, F.col("id") == F.col("_id")).count() == 0


def test_refresh_idempotent_and_stale_noop(spark, loaded):
    _, idx, _ = loaded
    last = idx.last_epoch
    assert idx.refresh() == {"refreshed": False, "last_epoch": last, "new_pairs": 0}
    assert idx.refresh(to_epoch=last - 1)["refreshed"] is False
    assert idx.last_epoch == last


def test_text_unchanged_update_nets_zero(spark, tmp_path):
    """Re-sending identical content at a higher LSN is an update in the
    changelog but a no-op for the index: banding is a pure function of
    text, so the preimage retraction cancels the postimage add."""
    from kafka_connect_converter_json_spark.streaming.sink import BucketedMergeSink

    sink = BucketedMergeSink(
        spark, str(tmp_path / "s"), keys=["k"], order_col="lsn", num_buckets=4,
    )
    rows = [("a", 1, "alpha beta gamma delta"), ("b", 2, "epsilon zeta eta theta")]
    sink.merge(spark.createDataFrame(rows, "k string, lsn long, content string")
               .withColumn("op", F.lit("u")), epoch=0)
    sink.merge(
        spark.createDataFrame(
            [("a", 10, "alpha beta gamma delta")], "k string, lsn long, content string"
        ).withColumn("op", F.lit("u")),
        epoch=1,
    )
    idx = IncrementalLSHIndex(spark, str(tmp_path / "i"), sink, num_buckets=4)
    idx.refresh(to_epoch=0)
    before = _rows(idx.read_bands())
    out = idx.refresh(to_epoch=1)
    assert out["refreshed"] and out["new_pairs"] == 0
    assert _rows(idx.read_bands()) == before
    # the epoch-1 delta carries zero rows (nothing netted)
    import os
    delta = os.path.join(str(tmp_path / "i"), idx._manifest["deltas"][-1])
    assert spark.read.schema(idx._BAND_SCHEMA).parquet(delta).count() == 0


def test_compact_and_vacuum_preserve_state(spark, events, tmp_path):
    sink = ingest(
        spark, events, str(tmp_path / "s"), N, n_epochs=3, num_buckets=8,
        merge_mode="mor",
    )
    idx = IncrementalLSHIndex(spark, str(tmp_path / "i"), sink, num_buckets=8)
    for e in sorted(sink.committed_epochs()):
        idx.refresh(to_epoch=e)
    bands = _rows(idx.read_bands())
    pairs = _rows(idx.candidate_pairs())
    log = _rows(idx.read_pairs())
    out = idx.compact()
    assert out["compacted"] and out["deltas_folded"] == 3
    assert idx._manifest["deltas"] == []
    assert _rows(idx.read_bands()) == bands
    assert _rows(idx.candidate_pairs()) == pairs
    gone = idx.vacuum()
    assert any(d.startswith("bands_e") for d in gone)
    # the pair log is referenced state: vacuum must keep it
    assert _rows(idx.read_pairs()) == log
    assert _rows(idx.read_bands()) == bands
    # idempotent
    assert idx.compact() == {"compacted": False, "deltas_folded": 0}


def test_param_mismatch_reopen_refusal(spark, events, tmp_path):
    sink = ingest(
        spark, events, str(tmp_path / "s"), N, n_epochs=1, num_buckets=8,
        merge_mode="mor",
    )
    root = str(tmp_path / "i")
    IncrementalLSHIndex(spark, root, sink, num_buckets=8).refresh()
    with pytest.raises(ValueError, match="params"):
        IncrementalLSHIndex(spark, root, sink, num_buckets=8, bands=8)
