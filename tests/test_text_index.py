"""Incrementally-maintained BM25 inverted index (streaming/text_index.py):
per-epoch changelog-fed adds/retractions must reconstruct exactly the
batch tokenization of the sink's live docs, and search() must equal the
standalone batch bm25_topk operator recomputed from scratch."""

import os

import pytest
from pyspark.sql import functions as F

from conftest import count_spark_jobs
from kafka_connect_converter_json_spark.operators.corpus_filters import bm25_topk
from kafka_connect_converter_json_spark.sources.cdc_gen import gen_events
from kafka_connect_converter_json_spark.streaming.ingest import ingest
from kafka_connect_converter_json_spark.streaming.text_index import (
    KEY_SEP,
    IncrementalBM25Index,
)

N = 2000
# word-character-only terms: the \b regexp of the batch operator and the
# \W+ tokenizer of the index agree exactly on these (module docstring)
TERMS = ["def", "return", "repo_00000", "code_reviewed"]


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def events(spark):
    # delete_pct default 5 + updates: retraction paths genuinely run.
    # gen_events content repeats a per-event block 1..6 times, so term
    # frequencies vary by doc; "def"/"return" hit every doc (stopword
    # shape, df == n_docs), "repo_00000" hits one hot repo's docs, and
    # "code_reviewed" is PLANTED on ~1/4 of keys as a pure function of
    # the key (text-unchanged updates exercise the net-to-zero path).
    base = gen_events(spark, N, n_repos=10, paths_per_repo=20, seed=23)
    planted = F.pmod(F.xxhash64("path"), F.lit(4)) == 0
    return base.withColumn(
        "value_json",
        F.when(
            planted & F.col("value_json").isNotNull(),
            F.regexp_replace(
                "value_json", F.lit(r'"content":"'), F.lit('"content":"code_reviewed ')
            ),
        ).otherwise(F.col("value_json")),
    ).cache()


@pytest.fixture(scope="module")
def loaded(spark, events, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("bm25")
    sink = ingest(
        spark, events, str(tmp / "sink"), N, n_epochs=4, num_buckets=8,
        merge_mode="mor",
    )
    idx = IncrementalBM25Index(spark, str(tmp / "idx"), sink, num_buckets=8)
    results = [idx.refresh(to_epoch=e) for e in sorted(sink.committed_epochs())]
    return sink, idx, results


def _live_docs(sink):
    return sink.read().select(
        F.concat_ws(KEY_SEP, "repo", "path").alias("_id"), "content"
    )


def test_postings_match_batch_tokenization_of_live_docs(spark, loaded):
    sink, idx, _ = loaded
    got = _rows(idx.read_postings())
    exp = _rows(
        idx._posting_rows(sink.read()).select("term", "id", "tf")
    )
    assert got == exp and len(got) > 0


def test_doclens_match_live_docs(spark, loaded):
    sink, idx, _ = loaded
    got = _rows(idx.read_doclens())
    exp = _rows(idx._doclen_rows(sink.read()))
    assert got == exp and len(got) > 0
    n_docs, sum_dl = idx.corpus_stats()
    assert n_docs == sink.read().count()
    assert sum_dl == sum(dl for _, dl in exp)


def test_search_matches_batch_bm25(spark, loaded):
    """search() over the index ≡ bm25_topk recomputed from scratch over
    the final live corpus — the independent path (its own regexp
    term-frequency counts, corpus stats and ranking)."""
    sink, idx, _ = loaded
    got = _rows(idx.search(TERMS, k=10))
    exp = _rows(
        bm25_topk(_live_docs(sink), TERMS, k=10, id_col="_id", text_col="content")
    )
    assert got == exp and len(got) > 0
    # the planted term genuinely ranks: it must appear in the output
    assert any(t == "code_reviewed" for t, *_ in got)


def test_search_per_epoch_matches_batch(spark, events, tmp_path):
    """The invariant holds at EVERY refresh point, not just the end."""
    sink = ingest(
        spark, events, str(tmp_path / "s"), N, n_epochs=3, num_buckets=8,
        merge_mode="mor",
    )
    idx = IncrementalBM25Index(spark, str(tmp_path / "i"), sink, num_buckets=8)
    for e in sorted(sink.committed_epochs()):
        idx.refresh(to_epoch=e)
        live = sink.read_as_of(e).select(
            F.concat_ws(KEY_SEP, "repo", "path").alias("_id"), "content"
        )
        got = _rows(idx.search(TERMS[:2], k=5))
        exp = _rows(bm25_topk(live, TERMS[:2], k=5, id_col="_id", text_col="content"))
        assert got == exp and len(got) > 0


def test_search_prunes_to_term_buckets(spark, loaded):
    """Path-level pruning: the postings scan feeding a search must touch
    only the _bucket= dirs the queried terms hash into."""
    _, idx, _ = loaded
    terms = ["def"]
    want = {
        r.b
        for r in spark.createDataFrame([(t,) for t in terms], "term string")
        .select(idx._bucket().alias("b"))
        .collect()
    }
    buckets = list(want)
    raw = idx._post_raw(buckets)
    touched = {
        int(p.split("_bucket=")[1].split("/")[0])
        for p in raw.inputFiles()
        if "_bucket=" in p
    }
    assert touched and touched <= want
    # and the index holds MORE buckets than the probe touches
    all_b = {
        int(p.split("_bucket=")[1].split("/")[0])
        for p in idx._post_raw().inputFiles()
        if "_bucket=" in p
    }
    assert len(all_b) > len(touched)
    # the queried terms' bucket ids fold on the driver: building a
    # search submits only the corpus-stats jobs
    with count_spark_jobs(spark) as stats:
        idx.corpus_stats()
    with count_spark_jobs(spark) as n:
        idx.search(terms)
    assert n["jobs"] == stats["jobs"]


def test_deletes_are_retracted(spark, events, loaded):
    sink, idx, _ = loaded
    last = events.groupBy("repo", "path").agg(F.max_by("op", "lsn").alias("op"))
    gone = last.filter(F.col("op") == "d").select(
        F.concat_ws(KEY_SEP, "repo", "path").alias("_id")
    )
    assert gone.count() > 0  # the fixture really exercises deletes
    assert idx.read_postings().join(gone, F.col("id") == F.col("_id")).count() == 0
    assert idx.read_doclens().join(gone, F.col("id") == F.col("_id")).count() == 0


def test_refresh_idempotent_and_stale_noop(spark, loaded):
    _, idx, _ = loaded
    last = idx.last_epoch
    assert idx.refresh() == {"refreshed": False, "last_epoch": last}
    assert idx.refresh(to_epoch=last - 1)["refreshed"] is False
    assert idx.last_epoch == last


def test_text_unchanged_update_nets_zero(spark, tmp_path):
    """Re-sending identical content at a higher LSN is an update in the
    changelog but a no-op for the index: tokenization is a pure function
    of text, so the preimage retraction cancels the postimage add."""
    from kafka_connect_converter_json_spark.streaming.sink import BucketedMergeSink

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
    idx = IncrementalBM25Index(spark, str(tmp_path / "i"), sink, num_buckets=4)
    idx.refresh(to_epoch=0)
    before_p = _rows(idx.read_postings())
    before_d = _rows(idx.read_doclens())
    assert idx.refresh(to_epoch=1)["refreshed"]
    assert _rows(idx.read_postings()) == before_p
    assert _rows(idx.read_doclens()) == before_d
    # the epoch-1 delta carries zero rows (nothing netted)
    delta = os.path.join(str(tmp_path / "i"), idx._manifest["deltas"][-1])
    assert (
        spark.read.schema(idx._POST_SCHEMA)
        .parquet(os.path.join(delta, "post"))
        .count()
        == 0
    )
    assert (
        spark.read.schema(idx._DLEN_SCHEMA)
        .parquet(os.path.join(delta, "dlen"))
        .count()
        == 0
    )


def test_compact_and_vacuum_preserve_state(spark, events, tmp_path):
    sink = ingest(
        spark, events, str(tmp_path / "s"), N, n_epochs=3, num_buckets=8,
        merge_mode="mor",
    )
    idx = IncrementalBM25Index(spark, str(tmp_path / "i"), sink, num_buckets=8)
    for e in sorted(sink.committed_epochs()):
        idx.refresh(to_epoch=e)
    postings = _rows(idx.read_postings())
    search = _rows(idx.search(TERMS, k=5))
    out = idx.compact()
    assert out["compacted"] and out["deltas_folded"] == 3
    assert idx._manifest["deltas"] == []
    assert _rows(idx.read_postings()) == postings
    assert _rows(idx.search(TERMS, k=5)) == search
    gone = idx.vacuum()
    assert any(d.startswith("e") for d in gone)
    assert _rows(idx.read_postings()) == postings
    assert idx.compact() == {"compacted": False, "deltas_folded": 0}


def test_param_mismatch_reopen_refusal(spark, events, tmp_path):
    sink = ingest(
        spark, events, str(tmp_path / "s"), N, n_epochs=1, num_buckets=8,
        merge_mode="mor",
    )
    root = str(tmp_path / "i")
    IncrementalBM25Index(spark, root, sink, num_buckets=8).refresh()
    with pytest.raises(ValueError, match="params"):
        IncrementalBM25Index(spark, root, sink, num_buckets=8, k1=2.0)
